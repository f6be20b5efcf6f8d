"""Dedup and corpus-curation query classes: everything over the
documents, embeddings and synthetic media corpora — the LSH, MinHash,
SimHash, ANN and modality pipelines with their connected components,
and the text pipeline around them (quality, language, tokens, n-grams,
sampling, search, decontamination)."""

from __future__ import annotations

from pyspark.sql import Window, functions as F
from pyspark.sql.types import (IntegerType, LongType, StringType, StructField,
                               StructType)

from datasketches_rust_spark.functions.text import (PII_EMAIL_RE, PII_IP_RE,
                                                    PII_PHONE_RE, pii_columns,
                                                    quality_cols, simhash_udf,
                                                    token_count_col,
                                                    winnow_fingerprints_udf,
                                                    with_lang_id)
from datasketches_rust_spark.operators.similarity import (
    ann_ivf_topk, ann_lsh_topk, cosine_pairs_bruteforce, cosine_pairs_lsh,
    cosine_topk_bruteforce)
from datasketches_rust_spark.pipeline import cluster_assignments, dedup_pairs
from datasketches_rust_spark.queries._common import (CFG, STOPWORDS_SQL,
                                                     _local_frame, _t)
from datasketches_rust_spark.queries._registry import query


@query(window=12, oracle="""
        SELECT min(doc_id) AS canonical_id, count(*) AS n_copies
        FROM documents GROUP BY text""")
def q_exact_dedup_documents(spark, sf_dir):
    """Fingerprint-first exact dedup: group by md5(text), NOT by the raw
    text column — the shuffle then carries a 16-byte key per row instead
    of the whole document body (at 100 TB the difference between
    shuffling fingerprints and re-shuffling the corpus). 128-bit md5
    makes cross-text collisions impossible in practice (2^64 birthday
    bound >> 10^12 docs; 64-bit xxhash64 would NOT clear that bar), so
    grouping by fingerprint equals grouping by text and the
    GROUP-BY-text oracle still hash-matches. Same formulation as
    streaming/dedup.exact_dedup_stream."""
    docs = _t(spark, sf_dir, "documents")
    return (docs.select(F.md5("text").alias("__fp"), "doc_id")
            .groupBy("__fp")
            .agg(F.min("doc_id").alias("canonical_id"),
                 F.count("*").alias("n_copies"))
            .select("canonical_id", "n_copies"))


_SHINGLE_PAIRS_CTE = """
WITH RECURSIVE docs AS (SELECT doc_id, lower(text) AS t FROM documents),
sh_pos AS (
  SELECT doc_id, t,
         unnest(range(1, greatest(length(t) - 4, 1) + 1)) AS i
  FROM docs
),
sh AS (
  SELECT DISTINCT doc_id, substring(t, i, 5) AS g FROM sh_pos
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
  FROM sh a JOIN sh b USING (g)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
),
jpairs AS (
  SELECT id_a, id_b
  FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.8
)
"""


@query(window=13, oracle=_SHINGLE_PAIRS_CTE + """
        SELECT id_a, id_b FROM jpairs""")
def q_minhash_dup_pairs(spark, sf_dir):
    """Near-duplicate document pairs: MinHash LSH, then exact Jaccard."""
    docs = _t(spark, sf_dir, "documents")
    return (dedup_pairs(docs, CFG, "doc_id", "text")
            .select("id_a", "id_b"))


@query(window=14, oracle=_SHINGLE_PAIRS_CTE + """,
        edges AS (
          SELECT id_a AS s, id_b AS d FROM jpairs
          UNION ALL SELECT id_b, id_a FROM jpairs),
        reach AS (
          SELECT doc_id AS src, doc_id AS dst FROM documents
          UNION
          SELECT r.src, e.d FROM reach r JOIN edges e ON r.dst = e.s)
        SELECT src AS doc_id, min(dst) AS cluster_id
        FROM reach GROUP BY src""")
def q_dedup_clusters(spark, sf_dir):
    """Near-duplicate clusters: the MinHash pipeline's connected
    components."""
    docs = _t(spark, sf_dir, "documents")
    return cluster_assignments(docs, CFG, "doc_id", "text") \
        .select("doc_id", "cluster_id")


@query(window=15, oracle=_SHINGLE_PAIRS_CTE + """,
        tri AS (
          SELECT count(*) AS n_triangles
          FROM jpairs x
          JOIN jpairs y ON x.id_b = y.id_a
          JOIN jpairs z ON z.id_a = x.id_a AND z.id_b = y.id_b),
        deg AS (
          SELECT v, count(*) AS d FROM (
            SELECT id_a AS v FROM jpairs
            UNION ALL SELECT id_b FROM jpairs) GROUP BY v),
        st AS (
          SELECT CAST(sum(d) // 2 AS BIGINT) AS n_edges,
                 CAST(sum(d * (d - 1) // 2) AS BIGINT) AS n_wedges
          FROM deg)
        SELECT n_edges, n_wedges, n_triangles,
               CASE WHEN n_wedges > 0
                    THEN 3 * n_triangles / n_wedges
                    ELSE 0.0 END AS clustering_coeff
        FROM st CROSS JOIN tri""")
def q_dup_graph_triangles(spark, sf_dir):
    """GRAPH ANALYTICS beyond connected components: triangle count and
    global clustering coefficient of the near-dup graph — the shape
    diagnostic that tells a curation run whether its dup clusters are
    cliques (true duplicates: transitive, safe to collapse) or chains
    (threshold-straddling drift: collapsing merges non-dups). Edges are
    the SAME verified pairs the dedup pipeline emits (already
    hash-gated in minhash_dup_pairs), oriented a<b.

    The classic distributed formulation: candidate paths by joining
    the a<b edge list with itself on the middle vertex (the a<b<c
    ordering makes each triangle counted exactly ONCE), closed by
    probing the (a,c) edge — both joins carry two longs. Wedges (for
    the coefficient's denominator) never need a join at all: W = sum
    over vertices of C(deg, 2) from the degree aggregate. At scale the
    known hazard is a hot vertex (deg d -> d^2 candidate paths) — the
    SAME hazard the pipeline's hot-bucket star degrade already caps
    upstream: a star hub's neighbors get no edges among themselves, so
    the degrade composes safely here. coeff = 3*T / W, one division of
    two exact integers. One declarative plan, no driver-side loop."""
    docs = _t(spark, sf_dir, "documents")
    e = (dedup_pairs(docs, CFG, "doc_id", "text")
         .select("id_a", "id_b"))
    x, y, z = e.alias("x"), e.alias("y"), e.alias("z")
    tri = (x.join(y, F.col("x.id_b") == F.col("y.id_a"))
           .join(z, (F.col("x.id_a") == F.col("z.id_a"))
                 & (F.col("y.id_b") == F.col("z.id_b")))
           .agg(F.count("*").alias("n_triangles")))
    deg = (e.select(F.col("id_a").alias("v"))
           .unionAll(e.select(F.col("id_b").alias("v")))
           .groupBy("v").agg(F.count("*").alias("d")))
    stats = deg.agg(
        (F.sum("d") / 2).cast("long").alias("n_edges"),
        F.sum(F.expr("d * (d - 1) div 2")).alias("n_wedges"))
    return (stats.crossJoin(tri)
            .select("n_edges", "n_wedges", "n_triangles",
                    F.when(F.col("n_wedges") > 0,
                           3 * F.col("n_triangles") / F.col("n_wedges"))
                    .otherwise(F.lit(0.0)).alias("clustering_coeff")))


@query(oracle=_SHINGLE_PAIRS_CTE + """,
        edges AS (
          SELECT id_a AS s, id_b AS d FROM jpairs
          UNION ALL SELECT id_b, id_a FROM jpairs),
        nodes AS (SELECT DISTINCT s AS node FROM edges),
        reach AS (
          SELECT node AS src, node AS dst FROM nodes
          UNION
          SELECT r.src, e.d FROM reach r JOIN edges e ON r.dst = e.s),
        cl AS (SELECT src AS node, min(dst) AS cluster_id
               FROM reach GROUP BY src),
        -- depth-capped multi-source BFS from the representatives; the
        -- Spark side raises past depth 16, so the cap can't silently
        -- truncate a matching radius
        bfs AS (
          SELECT cluster_id AS node, 0 AS dd
          FROM (SELECT DISTINCT cluster_id FROM cl)
          UNION
          SELECT e.d, b.dd + 1 FROM bfs b JOIN edges e ON e.s = b.node
          WHERE b.dd < 16),
        dist AS (SELECT node, min(dd) AS dist FROM bfs GROUP BY node)
        -- CASTs are load-bearing: DuckDB sum(INTEGER) returns HUGEINT
        -- (and min/max of the recursive dd is INTEGER) where Spark
        -- emits BIGINT; a type-sensitive hash diverges on equal values
        -- (driver r3's one red row). Same discipline as
        -- dup_graph_triangles.
        SELECT c.cluster_id, count(*) AS n_members,
               CAST(max(t.dist) AS BIGINT) AS radius,
               CAST(sum(t.dist) AS BIGINT) AS sum_dist
        FROM cl c JOIN dist t ON t.node = c.node
        GROUP BY c.cluster_id""")
def q_dup_cluster_radius(spark, sf_dir):
    """CLUSTER-SHAPE diagnostic via multi-source BFS (operators/bfs.py)
    — for every dup cluster, the hop distance of each member from the
    cluster's canonical representative (the min-id node = cluster_id):
    radius (max dist) and sum_dist. radius 1 = every member directly
    matched the rep (clique — safe to collapse); radius >= 3 = a
    threshold-straddling chain where far members may share nothing with
    the rep. Complements dup_graph_triangles: triangles measure local
    density, this measures global stretch.

    Scale shape: the verified pair list is checkpointed ONCE and feeds
    both connected components and the BFS (the expensive MinHash->LSH->
    verify pipeline runs once, not per consumer); both touch only
    dup-graph nodes (singletons never enter). Components finish on the
    driver while the edges fit it (component_labels: two jobs), each
    BFS round is a frontier-sized join, and rounds = max eccentricity
    (single digits — the hot-bucket star degrade bounds within-bucket
    distances at 2). The oracle reproduces the distances with a
    depth-capped recursive CTE over the same exact-Jaccard edge set;
    both sides raise/diverge loudly past depth 16 rather than reporting
    a truncated radius."""
    from pyspark.storagelevel import StorageLevel
    from datasketches_rust_spark.operators.bfs import bfs_distances
    from datasketches_rust_spark.operators.connected_components import (
        component_labels)
    docs = _t(spark, sf_dir, "documents")
    edges = (dedup_pairs(docs, CFG, "doc_id", "text")
             .select("id_a", "id_b")
             .localCheckpoint(storageLevel=StorageLevel.MEMORY_AND_DISK))
    labels = component_labels(edges)  # (id, cluster_id), edge-touched
    reps = labels.where(F.col("id") == F.col("cluster_id")).select("id")
    dist = bfs_distances(edges, reps, id_col="id")
    return (labels.join(dist, labels["id"] == dist["node"])
            .groupBy("cluster_id")
            .agg(F.count("*").alias("n_members"),
                 F.max("dist").cast("long").alias("radius"),
                 F.sum("dist").alias("sum_dist")))


# md5-hex-prefix split boundaries: < f0 -> train (240/256 = 93.75%),
# [f0, f8) -> val (3.125%), >= f8 -> test (3.125%). Lexicographic compare
# of the lowercase hex prefix is the one uniform both engines compute
# bit-identically (no hex->int conversion needed).
SPLIT_TRAIN_HEX = "f0"


SPLIT_VAL_HEX = "f8"


@query(window=16, oracle=_SHINGLE_PAIRS_CTE + """,
        edges AS (
          SELECT id_a AS s, id_b AS d FROM jpairs
          UNION ALL SELECT id_b, id_a FROM jpairs),
        reach AS (
          SELECT doc_id AS src, doc_id AS dst FROM documents
          UNION
          SELECT r.src, e.d FROM reach r JOIN edges e ON r.dst = e.s),
        cl AS (SELECT src AS doc_id, min(dst) AS cluster_id
               FROM reach GROUP BY src)
        SELECT doc_id, cluster_id,
               CASE WHEN substring(md5('split:'
                          || CAST(cluster_id AS VARCHAR)), 1, 2)
                         < '{TRAIN}' THEN 'train'
                    WHEN substring(md5('split:'
                          || CAST(cluster_id AS VARCHAR)), 1, 2)
                         < '{VAL}' THEN 'val'
                    ELSE 'test' END AS split
        FROM cl""".replace("{TRAIN}", SPLIT_TRAIN_HEX)
                  .replace("{VAL}", SPLIT_VAL_HEX))
def q_leakage_safe_split(spark, sf_dir):
    """Leakage-safe train/val/test split — the eval-contamination guard
    every pretraining pipeline needs: a doc-level random split leaks
    whenever two near-duplicates land on opposite sides (the model
    effectively trains on its eval set), so the split is assigned at
    the NEAR-DUP-CLUSTER level — hash the cluster representative id,
    not the doc id — and every member of a cluster lands in the same
    split by construction. Membership is md5-deterministic (stable
    run-to-run, engine-to-engine, and under re-partitioning; no
    rand()), keyed with a salt string so this split is independent of
    every other md5-derived decision in the pipeline.

    Scale shape: given cluster assignments (the LSH->CC pipeline this
    repo already runs at 2M rows with 0.92 scaling efficiency), the
    split itself is a pure JVM map over the assignment table — zero
    additional shuffles, no per-split sort, no driver state; at 10^12
    rows the split is free. The 93.75/3.125/3.125 boundaries are exact
    byte-prefix fractions; any /256-granular mix works the same way."""
    docs = _t(spark, sf_dir, "documents")
    clusters = cluster_assignments(docs, CFG, "doc_id", "text") \
        .select("doc_id", "cluster_id")
    b = F.substring(
        F.md5(F.concat(F.lit("split:"),
                       F.col("cluster_id").cast("string"))), 1, 2)
    return clusters.withColumn(
        "split",
        F.when(b < SPLIT_TRAIN_HEX, "train")
         .when(b < SPLIT_VAL_HEX, "val")
         .otherwise("test"))


BATCH_MOD = 5  # doc_id % 5 == 0 -> "incoming batch"; the rest -> index


@query(oracle="""
        WITH docs AS (SELECT doc_id, lower(text) AS t FROM documents),
        sh_pos AS (
          SELECT doc_id, t,
                 unnest(range(1, greatest(length(t) - 4, 1) + 1)) AS i
          FROM docs),
        sh AS (SELECT DISTINCT doc_id, substring(t, i, 5) AS g FROM sh_pos),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS batch_id, b.doc_id AS index_id, count(*) AS c
          FROM sh a JOIN sh b USING (g)
          WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
          GROUP BY 1, 2),
        jp AS (
          SELECT batch_id, index_id,
                 c * 1.0 / (sa.n + sb.n - c) AS j
          FROM inter JOIN sizes sa ON sa.doc_id = batch_id
                     JOIN sizes sb ON sb.doc_id = index_id
          WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.8),
        best AS (
          SELECT batch_id, j, index_id, nm FROM (
            SELECT *, count(*) OVER (PARTITION BY batch_id) AS nm,
                   row_number() OVER (PARTITION BY batch_id
                                      ORDER BY j DESC, index_id ASC) AS rk
            FROM jp) WHERE rk = 1)
        SELECT d.doc_id AS batch_id,
               best.batch_id IS NOT NULL AS is_dup,
               coalesce(best.nm, 0) AS n_matches,
               best.j AS best_jaccard,
               best.index_id AS best_index_id
        FROM documents d LEFT JOIN best ON best.batch_id = d.doc_id
        WHERE d.doc_id % 5 = 0""")
def q_dedup_against_index(spark, sf_dir):
    """Asymmetric dedup — the daily-ingestion shape: an incoming batch
    is checked against the existing corpus index (here a deterministic
    doc_id % 5 split of the fixture), and every batch doc reports
    whether it duplicates the index, its match count, and its best
    match (max exact Jaccard, min index id on ties).

    Reuses the pipeline's full candidate machinery (`dedup_pairs`: one
    LSH band exchange with the hot-bucket star degrade, exact-Jaccard
    verify) over the union of both sides, then keeps only cross-side
    pairs — at 10^12 rows the index side's signature table is the
    checkpointed one (dedup_pairs' ``sigs`` parameter), so an
    incremental run only sketches the batch. Everything after the
    verify is pair-sized: a struct-max argmax per batch doc (no window
    sort) and one left join back to the batch ids. At this fixture
    config candidate recall is exactly 1.0 (the minhash_dup_pairs gate
    hash-matches an exhaustive oracle), so the DuckDB oracle can
    recompute the TRUE best match from shingle sets and still agree."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup_pairs(docs, CFG, "doc_id", "text")

    def is_b(c):
        return F.pmod(c, F.lit(BATCH_MOD)) == 0

    per = (pairs
           .where(is_b(F.col("id_a")) != is_b(F.col("id_b")))
           .select(
               F.when(is_b(F.col("id_a")), F.col("id_a"))
               .otherwise(F.col("id_b")).alias("batch_id"),
               F.when(is_b(F.col("id_a")), F.col("id_b"))
               .otherwise(F.col("id_a")).alias("index_id"),
               "jaccard"))
    best = (per.groupBy("batch_id")
            .agg(F.max(F.struct(
                     F.col("jaccard"),
                     (-F.col("index_id")).alias("neg"))).alias("m"),
                 F.count("*").alias("nm")))
    batch = docs.where(is_b(F.col("doc_id"))) \
        .select(F.col("doc_id").alias("batch_id"))
    return (batch.join(best, "batch_id", "left")
            .select("batch_id",
                    F.col("m").isNotNull().alias("is_dup"),
                    F.coalesce(F.col("nm"), F.lit(0)).cast("long")
                    .alias("n_matches"),
                    F.col("m.jaccard").alias("best_jaccard"),
                    (-F.col("m.neg")).cast("long").alias("best_index_id")))


def _pairs_expr(members_col: str, fields: list[str]):
    """All ordered pairs (i < j) from a SORTED array<struct> column, as an
    array of named structs — pure JVM higher-order functions, no Python.
    Struct order = first field = id, so id_a < id_b holds by
    construction."""
    names = [f"'{f}_a', x.{f}" for f in fields] + \
            [f"'{f}_b', y.{f}" for f in fields]
    return F.expr(
        f"flatten(transform({members_col}, (x, i) -> "
        f"transform(slice({members_col}, i + 2, "
        f"size({members_col}) - i - 1), "
        f"y -> named_struct({', '.join(names)}))))")


NGRAM_DF_CAP = 100_000  # > any fixture doc count -> oracle stays exact


@query(window=17, oracle="""
        WITH docs AS (
          SELECT doc_id,
                 string_split_regex(trim(lower(text)), '\\s+') AS toks
          FROM documents),
        gram_pos AS (
          SELECT doc_id, toks,
                 unnest(range(1, greatest(len(toks) - 2, 1) + 1)) AS i
          FROM docs),
        grams AS (
          SELECT DISTINCT doc_id,
                 array_to_string(toks[i:i+2], ' ') AS g
          FROM gram_pos),
        sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
          FROM grams a JOIN grams b USING (g)
          WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
        SELECT id_a, id_b
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.5""")
def q_ngram_jaccard_pairs(spark, sf_dir, df_cap: int = NGRAM_DF_CAP):
    """Token 3-gram Jaccard >= 0.5 — pure JVM (no Python UDF) dedup.

    Hot-gram guard: a gram shared by m docs contributes m^2 rows to the
    self-join, so a ubiquitous boilerplate phrase is a quadratic
    scale-killer (the exact hazard operators/lsh.py solves for MinHash
    bands). Grams with document frequency > ``df_cap`` are dropped from
    the JOIN side only — at that df they carry no Jaccard signal (two
    docs sharing only boilerplate are not near-dups), and dropping
    shared grams can only lower the measured intersection, never create
    a false positive. Doc sizes still count ALL grams, so semantics are
    unchanged for every gram below the cap; with the default cap above
    the fixture doc count the DuckDB oracle stays exactly equal.

    Shuffle shape (the operators/lsh.py discipline, all three lessons):
    grams are near-unique keys, so a standalone df groupBy would
    shuffle data-sized partials (map-side combine compresses nothing);
    a SELF-JOIN on g would re-exchange the exploded grams twice
    (Catalyst cannot reuse exchanges across join subtrees — the
    inferred per-side filters de-canonicalize the copies, verified
    in-plan); so candidate generation is the collect-and-pair form on
    ONE repartition('g') exchange: df from a window count, surviving
    buckets (bounded by df_cap, exactly lsh's max_bucket_size role)
    collect their doc lists exchange-free and expand pairs with the JVM
    higher-order expression. Doc sizes need no aggregate at all: the
    gram array is already distinct per doc, so n = size(grams) is a
    pure map over a second pruned scan."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    grams = F.array_distinct(F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - 2, F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(toks, i, 3))))
    ex = (docs.select(F.col("doc_id").alias("__id"),
                      F.explode(grams).alias("g"))
          .repartition("g"))
    rare = (ex.withColumn("__df", F.count("*").over(
                Window.partitionBy("g")))
            .where(F.col("__df") <= df_cap))
    sizes = docs.select("doc_id", F.size(grams).alias("n"))
    members = (rare.groupBy("g")
               .agg(F.array_sort(F.collect_list(F.struct(F.col("__id"))))
                    .alias("__m"))
               .where(F.size("__m") >= 2))
    inter = (members
             .select(F.explode(_pairs_expr("__m", ["__id"])).alias("__p"))
             .groupBy(F.col("__p.__id_a").alias("id_a"),
                      F.col("__p.__id_b").alias("id_b"))
             .agg(F.count("*").alias("c")))
    sa = sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("n", "na")
    sb = sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("n", "nb")
    return (inter.join(sa, "id_a").join(sb, "id_b")
            .where(F.col("c") / (F.col("na") + F.col("nb") - F.col("c"))
                   >= 0.5)
            .select("id_a", "id_b"))


CONTAINMENT_T = 0.9  # |A ∩ B| / min(|A|, |B|) threshold


@query(window=18, oracle="""
        WITH docs AS (SELECT doc_id, lower(text) AS t FROM documents),
        sh_pos AS (
          SELECT doc_id, t,
                 unnest(range(1, greatest(length(t) - 4, 1) + 1)) AS i
          FROM docs),
        sh AS (SELECT DISTINCT doc_id, substring(t, i, 5) AS g
               FROM sh_pos),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
          FROM sh a JOIN sh b USING (g)
          WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
        SELECT id_a, id_b, c AS n_common,
               c * 1.0 / least(sa.n, sb.n) AS containment
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE c * 1.0 / least(sa.n, sb.n) >= 0.9""")
def q_containment_dup_pairs(spark, sf_dir, df_cap: int = NGRAM_DF_CAP):
    """ASYMMETRIC near-dup detection via shingle CONTAINMENT — the dedup
    axis Jaccard misses: a short doc quoted verbatim inside a much
    longer one has tiny Jaccard (the union is dominated by the long
    doc) but containment |A∩B|/min(|A|,|B|) ~ 1. This is the
    quote-inclusion / page-within-crawl case every curation pipeline
    also filters. Char 5-gram shingles (the MinHash config's shingle
    space), exact intersection counts.

    Same single-exchange candidate shape as ngram_jaccard_pairs (window
    df on one repartition('g'), hot-gram cap on the join side only,
    collect-and-pair JVM expansion — see that docstring for why a
    self-join or standalone groupBy loses at scale); doc sizes are a
    pure map (size of the distinct-gram array), never an aggregate.
    The df cap is containment-safe for the same reason it is
    Jaccard-safe: dropping a shared gram only lowers the measured
    intersection, so no false positives; with the default cap above
    fixture df the DuckDB oracle is exactly equal."""
    docs = _t(spark, sf_dir, "documents")
    grams = F.expr(
        "array_distinct(transform("
        "  sequence(1, greatest(length(lower(text)) - 4, 1)),"
        "  i -> substring(lower(text), i, 5)))")
    ex = (docs.select(F.col("doc_id").alias("__id"),
                      F.explode(grams).alias("g"))
          .repartition("g"))
    rare = (ex.withColumn("__df", F.count("*").over(
                Window.partitionBy("g")))
            .where(F.col("__df") <= df_cap))
    sizes = docs.select("doc_id", F.size(grams).alias("n"))
    members = (rare.groupBy("g")
               .agg(F.array_sort(F.collect_list(F.struct(F.col("__id"))))
                    .alias("__m"))
               .where(F.size("__m") >= 2))
    inter = (members
             .select(F.explode(_pairs_expr("__m", ["__id"])).alias("__p"))
             .groupBy(F.col("__p.__id_a").alias("id_a"),
                      F.col("__p.__id_b").alias("id_b"))
             .agg(F.count("*").alias("c")))
    sa = sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("n", "na")
    sb = sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("n", "nb")
    cont = F.col("c") / F.least(F.col("na"), F.col("nb"))
    return (inter.join(sa, "id_a").join(sb, "id_b")
            .where(cont >= CONTAINMENT_T)
            .select("id_a", "id_b", F.col("c").alias("n_common"),
                    cont.alias("containment")))


@query(gate="tests/test_golden_queries.py")
def q_simhash_near_docs(spark, sf_dir):
    """SimHash hamming<=3 candidate pairs — no SQL oracle (pytest)."""
    from datasketches_rust_spark.operators.visual import simhash_pairs
    from datasketches_rust_spark.pipeline import ensure_parallelism
    docs = ensure_parallelism(_t(spark, sf_dir, "documents"))
    sim = simhash_udf(CFG)
    fps = docs.select("doc_id", sim(F.lower(F.col("text"))).alias("fp"))
    return simhash_pairs(fps, "doc_id", "fp", max_hamming=CFG.simhash_hamming)


@query(oracle="""
        WITH scored AS (
          SELECT doc_id,
            len(list_filter(string_split_regex(lower(text), '\\s+'),
              w -> list_contains(['der','die','und','das','von','mit','ist','den'], w))) AS h_de,
            len(list_filter(string_split_regex(lower(text), '\\s+'),
              w -> list_contains(['the','and','of','to','is','in','that','with'], w))) AS h_en,
            len(list_filter(string_split_regex(lower(text), '\\s+'),
              w -> list_contains(['el','la','de','que','y','en','los','por'], w))) AS h_es,
            len(list_filter(string_split_regex(lower(text), '\\s+'),
              w -> list_contains(['le','la','de','et','les','des','que','pour'], w))) AS h_fr
          FROM documents),
        pred AS (
          SELECT CASE
            WHEN h_de > 0 AND h_de >= h_en AND h_de >= h_es AND h_de >= h_fr THEN 'de'
            WHEN h_en > 0 AND h_en >= h_es AND h_en >= h_fr THEN 'en'
            WHEN h_es > 0 AND h_es >= h_fr THEN 'es'
            WHEN h_fr > 0 THEN 'fr'
            ELSE 'und' END AS lang_pred
          FROM scored)
        SELECT lang_pred, count(*) AS n FROM pred GROUP BY lang_pred""")
def q_lang_id_counts(spark, sf_dir):
    """Document counts per detected language."""
    docs = _t(spark, sf_dir, "documents").select("text")
    return (with_lang_id(docs, "text").select("lang_pred")
            .groupBy("lang_pred").agg(F.count("*").alias("n")))


@query(window=19, oracle="""
        WITH base AS (
          SELECT doc_id, trim(text) AS t,
                 string_split_regex(trim(text), '\\s+') AS toks
          FROM documents)
        SELECT doc_id,
          length(t) AS n_chars,
          CASE WHEN length(t) = 0 THEN 0 ELSE len(toks) END AS n_tokens,
          length(regexp_replace(t, '\\s+', '', 'g')) * 1.0
            / greatest(CASE WHEN length(t) = 0 THEN 0 ELSE len(toks) END, 1)
            AS avg_token_len,
          (length(t) - length(regexp_replace(t, '[.,!?;:]', '', 'g'))) * 1.0
            / greatest(length(t), 1) AS punct_ratio,
          len(list_filter(toks, w -> list_contains(""" + STOPWORDS_SQL + """,
              lower(w)))) * 1.0
            / greatest(CASE WHEN length(t) = 0 THEN 0 ELSE len(toks) END, 1)
            AS stopword_ratio
        FROM base""")
def q_text_quality(spark, sf_dir):
    """Per-document text-quality signals."""
    docs = _t(spark, sf_dir, "documents")
    cols = quality_cols(F.col("text"))
    return docs.select("doc_id", *[v.alias(k) for k, v in cols.items()])


@query(oracle="""
        SELECT doc_id,
               CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(string_split_regex(trim(text), '\\s+'))
               END AS n_tokens,
               len(regexp_extract_all(text,
                   '''(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+', 0)) AS n_bpe_tokens
        FROM documents""")
def q_token_counts(spark, sf_dir):
    """Whitespace tokens + GPT-2-pretokenizer (BPE-ish) chunks, both
    as built-in JVM expressions over one scan."""
    from datasketches_rust_spark.functions.text import \
        bpe_token_count_col
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id",
                       token_count_col(F.col("text")).alias("n_tokens"),
                       bpe_token_count_col(F.col("text"))
                       .alias("n_bpe_tokens"))


def _bpe_oracle_sql() -> str:
    """DuckDB replay of the exact BPE encode loop over the committed
    merge table: each distinct pretoken becomes a chr(1)-delimited char
    sequence (tokens joined by a DOUBLED separator so a one-pass
    replace() keeps the next occurrence's leading boundary intact), the
    recursion applies the lowest-rank merge present until the LATERAL
    finds none, and the fixpoint row's separator count yields the token
    count. Identical semantics to functions/bpe.bpe_encode by
    construction: both pick min-rank adjacent pair, both fuse all
    occurrences left-to-right per pass."""
    from datasketches_rust_spark.functions.bpe import MERGES
    from datasketches_rust_spark.functions.text import BPE_PRETOKEN_RE

    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    vals = ",\n    ".join(
        f"({i}, chr(1) || {q(a)} || chr(1) || chr(1) || {q(b)} || chr(1),"
        f" chr(1) || {q(a + b)} || chr(1))"
        for i, (a, b) in enumerate(MERGES))
    return f"""
WITH RECURSIVE
merges(rank, pat, rep) AS (VALUES
    {vals}),
pretoks AS (
  SELECT doc_id,
         unnest(regexp_extract_all(text, {q(BPE_PRETOKEN_RE)})) AS tok
  FROM documents),
per_tok AS (SELECT doc_id, tok, count(*) AS n_occ FROM pretoks
            GROUP BY 1, 2),
dtoks AS (SELECT DISTINCT tok FROM per_tok),
enc AS (
  SELECT tok,
         chr(1) || array_to_string(
           list_transform(range(1, length(tok) + 1),
                          i -> substr(tok, i, 1)),
           chr(1) || chr(1)) || chr(1) AS seq
  FROM dtoks),
steps(tok, seq, it) AS (
  SELECT tok, seq, 0 FROM enc
  UNION ALL
  SELECT s.tok, replace(s.seq, best.pat, best.rep), s.it + 1
  FROM steps s, LATERAL (
    SELECT pat, rep FROM merges m
    WHERE contains(s.seq, m.pat)
    ORDER BY rank LIMIT 1) best),
counts AS (
  SELECT tok,
         (length(f.seq) - length(replace(f.seq, chr(1), ''))) // 2 AS n_bpe
  FROM (SELECT tok, arg_max(seq, it) AS seq FROM steps GROUP BY tok) f)
SELECT p.doc_id,
       sum(p.n_occ)::BIGINT AS n_pretokens,
       sum(p.n_occ * c.n_bpe)::BIGINT AS n_bpe_tokens
FROM per_tok p JOIN counts c USING (tok)
GROUP BY p.doc_id"""


@query(window=20, oracle=_bpe_oracle_sql())
def q_bpe_tokens_per_doc(spark, sf_dir):
    """REAL BPE vocabulary application (not just the pretokenizer count):
    greedy lowest-rank merges from the committed mini-vocab
    (functions/bpe.MERGES), applied once per DISTINCT pretoken through a
    broadcast-vocab Arrow UDF, joined back to a (doc, tok) count
    aggregate — Python work scales with the vocabulary, not the corpus.
    Oracle: a DuckDB WITH RECURSIVE + LATERAL loop replays the identical
    merge semantics over the same committed merges (hash-matched)."""
    from datasketches_rust_spark.functions.bpe import bpe_token_counts
    docs = _t(spark, sf_dir, "documents")
    return (bpe_token_counts(docs)
            .select("doc_id",
                    F.col("n_pretokens").cast("long").alias("n_pretokens"),
                    F.col("n_bpe_tokens").cast("long")
                    .alias("n_bpe_tokens")))


@query(gate="tests/test_bpe_learn.py")
def q_bpe_learned_merges(spark, sf_dir):
    """BPE tokenizer TRAINING on the corpus — the induction that
    produced the engine's committed mini-vocab, as a driver-visible
    query: one pretokenize -> word-count aggregate is the only
    corpus-scale work, then the greedy merge loop runs over the
    Zipf-bounded word-frequency table (driver-local when it fits,
    distributed one-job-per-round otherwise; equivalence pinned in
    tests/test_bpe_learn.py, which also reproduces the committed
    MERGES bit-for-bit from the sf0.001 corpus). Rows-only: a greedy
    sequential argmax loop is not SQL-expressible."""
    from datasketches_rust_spark.functions.bpe import learn_bpe_merges
    docs = _t(spark, sf_dir, "documents")
    learned = learn_bpe_merges(docs, num_merges=32)
    rows = [(i + 1, a, b, c) for i, (a, b, c) in enumerate(learned)]
    return _local_frame(spark, rows, StructType([
        StructField("rank", IntegerType()), StructField("left", StringType()),
        StructField("right", StringType()),
        StructField("pair_count", LongType())]))


@query(oracle="""
        SELECT doc_id, md5(text) AS fp FROM documents""")
def q_doc_fingerprint_md5(spark, sf_dir):
    """The md5 fingerprint of every document's text."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", F.md5(F.col("text")).alias("fp"))


@query(oracle="""
        WITH toks AS (
          SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
          FROM documents
        ), base AS (
          SELECT doc_id, t, len(t) AS n FROM toks
        ), tri AS (
          SELECT doc_id,
                 [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                  FOR i IN range(1, greatest(n - 2, 0) + 1)] AS g
          FROM base
        ), tw AS (
          SELECT doc_id, max(c) AS top_c FROM (
            SELECT doc_id, w, count(*) AS c
            FROM (SELECT doc_id, unnest(t) AS w FROM base)
            GROUP BY doc_id, w) GROUP BY doc_id
        )
        SELECT b.doc_id,
               b.n AS n_tokens,
               len(tri.g) - len(list_distinct(tri.g)) AS n_dup_trigrams,
               CASE WHEN len(tri.g) > 0
                    THEN (len(tri.g) - len(list_distinct(tri.g))) * 1.0
                         / len(tri.g)
                    ELSE 0.0 END AS dup_trigram_frac,
               tw.top_c * 1.0 / greatest(b.n, 1) AS top_word_frac,
               (CASE WHEN len(tri.g) > 0
                     THEN (len(tri.g) - len(list_distinct(tri.g))) * 1.0
                          / len(tri.g)
                     ELSE 0.0 END > 0.15
                OR tw.top_c * 1.0 / greatest(b.n, 1) > 0.2) AS flagged
        FROM base b JOIN tri USING (doc_id) JOIN tw USING (doc_id)""")
def q_repetition_flags(spark, sf_dir):
    """Gopher-style repetition quality rules (Rae et al. 2021 §A1.1),
    the standard pretraining repetition cut: per doc, the fraction of
    duplicate word 3-grams and the fraction of tokens belonging to the
    single most frequent word; a doc is flagged when either exceeds its
    threshold (0.15 / 0.2). Entirely shuffle-free JVM expressions over
    one scan — trigrams come from a transform over an index sequence,
    and the top-word count is a run-length scan over the SORTED token
    array (array_sort + aggregate), so no explode/groupBy per doc and
    the op is a pure map at any corpus size."""
    docs = _t(spark, sf_dir, "documents")
    t = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    n = F.size(t)
    tri = F.when(n >= 3, F.transform(
        F.sequence(F.lit(1), n - 2),
        lambda i: F.concat_ws(" ", F.element_at(t, i),
                              F.element_at(t, i + 1),
                              F.element_at(t, i + 2)))) \
        .otherwise(F.expr("cast(array() as array<string>)"))
    # run-length max over the sorted array: state = (prev, run, best)
    top_c = F.aggregate(
        F.array_sort(t),
        F.struct(F.lit("").alias("prev"), F.lit(0).alias("run"),
                 F.lit(0).alias("best")),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1))
            .alias("run"),
            F.greatest(
                acc.best,
                F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1)))
            .alias("best")),
        lambda acc: acc.best)
    d = docs.select(
        "doc_id", n.alias("n_tokens"),
        (F.size(tri) - F.size(F.array_distinct(tri)))
        .cast("long").alias("n_dup_trigrams"),
        F.size(tri).alias("n_trigrams"),
        top_c.alias("top_c"))
    dup_frac = F.when(
        F.col("n_trigrams") > 0,
        F.col("n_dup_trigrams") * F.lit(1.0) / F.col("n_trigrams")) \
        .otherwise(F.lit(0.0))
    top_frac = (F.col("top_c") * F.lit(1.0)
                / F.greatest(F.col("n_tokens"), F.lit(1)))
    return d.select(
        "doc_id", F.col("n_tokens").cast("long").alias("n_tokens"),
        "n_dup_trigrams",
        dup_frac.alias("dup_trigram_frac"),
        top_frac.alias("top_word_frac"),
        ((dup_frac > 0.15) | (top_frac > 0.2)).alias("flagged"))


TFIDF_MIN_DF = 2  # document-frequency vocab floor; mirrored in the oracle


@query(oracle="""
        WITH toks AS (
          SELECT doc_id, source,
                 unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
          FROM documents
        ), nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM toks),
        dfq AS (SELECT w, count(DISTINCT doc_id) AS df FROM toks
                GROUP BY w HAVING count(DISTINCT doc_id) >= 2),
        tfq AS (SELECT source, w, count(*) AS tf FROM toks
                GROUP BY source, w),
        scored AS (
          SELECT tfq.source, tfq.w, tfq.tf, dfq.df,
                 tfq.tf * ln(nd.n_docs * 1.0 / dfq.df) AS tfidf
          FROM tfq JOIN dfq USING (w) CROSS JOIN nd
        ), ranked AS (
          SELECT *, row_number() OVER (PARTITION BY source
                                       ORDER BY tfidf DESC, w ASC) AS rk
          FROM scored
        )
        SELECT source, w AS term, tf, df, tfidf, rk
        FROM ranked WHERE rk <= 5""")
def q_tfidf_top_terms(spark, sf_dir):
    """Corpus-analytics shape: top-5 terms per source by tf-idf
    (tf = term count within the source, idf = ln(n_docs / df)). Two
    aggregates over one exploded scan; the document-frequency vocab
    joins back with an EXPLICIT broadcast after a min-df floor — the
    same discipline as unigram_logprob_scores: the Zipf tail is all
    df=1 hapax/typos, so the floor shrinks the vocab by the long tail
    and the floor is semantic too (hapax carry maximal idf but are
    noise). Crucially the join is between two AGGREGATES (tf keyed by
    (source, w), df keyed by w) — raw Zipf-skewed tokens never reach
    any join, so even when a truly web-scale vocab outgrows the
    broadcast threshold, the fallback shuffle join is skew-free (each
    w appears at most n_sources times on the tf side, once on the df
    side). The oracle applies the identical floor so the gate stays a
    hash-match. Final top-k is a row_number window partitioned by
    source (bounded small side), ties broken by term so both engines
    rank identically."""
    from pyspark.sql import Window
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "source",
        F.explode(F.split(F.lower(F.trim(F.col("text"))),
                          r"\s+")).alias("w"))
    n_docs = toks.agg(
        F.countDistinct("doc_id").alias("n_docs"))
    df = (toks.groupBy("w").agg(F.countDistinct("doc_id").alias("df"))
          .where(F.col("df") >= TFIDF_MIN_DF))
    tf = toks.groupBy("source", "w").agg(F.count("*").alias("tf"))
    scored = (tf.join(F.broadcast(df), "w")
              .crossJoin(F.broadcast(n_docs))
              .withColumn(
                  "tfidf",
                  F.col("tf") * F.log(F.col("n_docs") * F.lit(1.0)
                                      / F.col("df"))))
    win = Window.partitionBy("source").orderBy(
        F.col("tfidf").desc(), F.col("w").asc())
    return (scored.withColumn("rk", F.row_number().over(win))
            .where(F.col("rk") <= 5)
            .select("source", F.col("w").alias("term"), "tf", "df",
                    "tfidf", F.col("rk").cast("long").alias("rk")))


CHUNK_WORDS = 32  # fixed dedup-window width (words per chunk)


@query(oracle="""
        WITH toks AS (
          SELECT doc_id, source,
                 string_split_regex(trim(lower(text)), '\\s+') AS t
          FROM documents
        ), ch AS (
          SELECT doc_id, source,
                 [array_to_string(t[(i - 1) * 32 + 1 : i * 32], ' ')
                  FOR i IN range(1, cast(ceil(len(t) / 32.0) AS BIGINT) + 1)]
                 AS cs
          FROM toks
        ), chunks AS (
          SELECT doc_id, source, md5(unnest(cs)) AS fp FROM ch
        ), fps AS (
          SELECT fp, count(DISTINCT doc_id) AS n_docs FROM chunks GROUP BY fp
        )
        SELECT c.source,
               count(*) AS n_chunks,
               count(*) FILTER (WHERE f.n_docs >= 2) AS n_shared_chunks
        FROM chunks c JOIN fps f USING (fp)
        GROUP BY c.source""")
def q_chunk_dedup_stats(spark, sf_dir):
    """Fixed-window chunk-level exact dedup statistics — the
    substring-dedup shape (RefinedWeb/C4 style) at chunk granularity:
    every doc splits into fixed 32-word windows, each window gets an
    md5 fingerprint, and a chunk is 'shared' when the same fingerprint
    appears in >= 2 distinct docs. Scale shape: fingerprints are
    near-unique keys, so shared-ness is decided on ONE hash exchange by
    a window min/max comparison (min(doc_id) != max(doc_id) over the
    fp partition — cross-doc iff ids differ), the same discipline
    operators/lsh.py uses — no sizes groupBy whose partials defeat
    map-side combine, no join back. Only (fp-hash, doc_id, source)
    rows ever shuffle, never text."""
    from pyspark.sql import Window
    docs = _t(spark, sf_dir, "documents")
    t = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    n_chunks = F.ceil(F.size(t) / F.lit(float(CHUNK_WORDS))).cast("int")
    chunks = docs.select(
        "doc_id", "source",
        F.explode(F.transform(
            F.sequence(F.lit(1), n_chunks),
            lambda i: F.md5(F.concat_ws(
                " ", F.slice(t, (i - 1) * CHUNK_WORDS + 1,
                             CHUNK_WORDS))))).alias("fp"))
    w = Window.partitionBy("fp")
    shared = chunks.withColumn(
        "shared",
        F.min("doc_id").over(w) != F.max("doc_id").over(w))
    return (shared.groupBy("source")
            .agg(F.count("*").alias("n_chunks"),
                 F.sum(F.when(F.col("shared"), 1).otherwise(0))
                 .cast("long").alias("n_shared_chunks")))


@query(oracle=r"""
        WITH d AS (
          SELECT doc_id, source,
                 string_split_regex(lower(trim(text)), '\s+') AS toks
          FROM documents WHERE text IS NOT NULL
        ), c AS (
          SELECT doc_id, source,
                 cast(i AS INT) AS idx,
                 cast(ceil(len(toks) / 32.0) AS INT) AS n_chunks,
                 array_to_string(list_slice(
                     toks, (i - 1) * 32 + 1, least(i * 32, len(toks))),
                     ' ') AS ctext
          FROM d, unnest(range(1, cast(ceil(len(toks) / 32.0) AS BIGINT)
                               + 1)) AS t(i)
        ), k AS (
          SELECT *, row_number() OVER (PARTITION BY md5(ctext)
                                       ORDER BY doc_id, idx) AS rk
          FROM c
        )
        SELECT doc_id, source,
               any_value(n_chunks) AS n_chunks,
               count(*) FILTER (rk > 1) AS n_removed,
               coalesce(string_agg(ctext, ' ' ORDER BY idx) FILTER (rk = 1),
                        '') AS clean_text
        FROM k GROUP BY doc_id, source""")
def q_chunk_dedup_clean(spark, sf_dir):
    """Exact substring-dedup CLEANING with text reconstruction — the
    rewrite counterpart of chunk_dedup_stats (RefinedWeb/Falcon-style
    exact substring dedup applied, not just measured): every doc splits
    into fixed 32-word chunks, a chunk occurrence is KEPT iff it is the
    globally-canonical first occurrence of its fingerprint (min
    (doc_id, chunk_idx) across the whole corpus — self-repeats within a
    doc dedup too), and each doc is re-emitted with its duplicated
    chunks spliced out, in original order.

    Scale shape: keep/drop is decided on ONE hash exchange of
    (16-byte binary fp, doc_id, idx) rows — a struct-min window over
    the fp partition, the same no-join discipline as chunk_dedup_stats;
    text never enters that exchange. The per-doc drop-lists (only docs
    that actually lose chunks) aggregate on doc_id and join back to the
    corpus on the unique doc_id key — skew-free by construction — and
    reconstruction is a pure map over the doc's own text (re-split,
    skip dropped chunk indexes, concat): the corpus text crosses at
    most that one doc_id join, never a fingerprint exchange. Rewriting
    the corpus is inherently a full-scan + one co-partitioned join at
    100 TB; everything upstream of it ships ids only."""
    # NULL-text contract: dropped on BOTH engines (the oracle's
    # unnest(range(1, NULL)) silently emits no chunk rows, so without
    # this filter Spark's left join would re-surface the doc and the
    # gate would row-count-diff on any fixture with nullable text)
    docs = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    t = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    n_chunks = F.ceil(F.size(t) / F.lit(float(CHUNK_WORDS))).cast("int")
    chunks = docs.select(
        "doc_id",
        F.explode(F.transform(
            F.sequence(F.lit(1), n_chunks),
            lambda i: F.struct(
                i.alias("idx"),
                F.unhex(F.md5(F.concat_ws(
                    " ", F.slice(t, (i - 1) * CHUNK_WORDS + 1,
                                 CHUNK_WORDS)))).alias("fp")))).alias("c")
    ).select("doc_id", F.col("c.idx").alias("idx"), F.col("c.fp").alias("fp"))
    w = Window.partitionBy("fp")
    canon = F.min(F.struct("doc_id", "idx")).over(w)
    drops = (chunks
             .withColumn("canon", canon)
             .where(F.struct("doc_id", "idx") != F.col("canon"))
             .groupBy("doc_id")
             .agg(F.array_sort(F.collect_list("idx")).alias("drop_idx"),
                  F.count("*").alias("n_removed")))
    kept_idx = F.filter(
        F.sequence(F.lit(1), n_chunks),
        lambda i: ~F.coalesce(F.array_contains(F.col("drop_idx"), i),
                              F.lit(False)))
    clean = F.concat_ws(" ", F.flatten(F.transform(
        kept_idx,
        lambda i: F.slice(t, (i - 1) * CHUNK_WORDS + 1, CHUNK_WORDS))))
    return (docs.join(drops, "doc_id", "left")
            .select("doc_id", "source", n_chunks.alias("n_chunks"),
                    F.coalesce("n_removed", F.lit(0)).cast("long")
                    .alias("n_removed"),
                    clean.alias("clean_text")))


@query(oracle=r"""
        WITH base AS (
          SELECT source, count(*) AS n_docs,
                 cast(sum(len(string_split_regex(lower(trim(text)),
                                                 '\s+'))) AS BIGINT)
                 AS n_words,
                 count(DISTINCT lang) AS n_langs,
                 max(n_chars) AS max_chars
          FROM documents GROUP BY source
        ), vc AS (
          SELECT source, n_chars, count(*) AS c
          FROM documents GROUP BY 1, 2
        ), cum AS (
          SELECT source, n_chars,
                 sum(c) OVER (PARTITION BY source ORDER BY n_chars) AS cum
          FROM vc
        ), pct AS (
          SELECT b.source,
                 min(CASE WHEN cum >= cast(floor((b.n_docs - 1) * 0.5)
                                          AS BIGINT) + 1
                          THEN n_chars END) AS p50_chars,
                 min(CASE WHEN cum >= cast(floor((b.n_docs - 1) * 0.9)
                                          AS BIGINT) + 1
                          THEN n_chars END) AS p90_chars
          FROM base b JOIN cum USING (source) GROUP BY 1
        )
        SELECT b.source, n_docs, n_words, p50_chars, p90_chars,
               max_chars, n_langs
        FROM base b JOIN pct USING (source)""")
def q_source_profile(spark, sf_dir):
    """Per-source dataset profile card — the stats report a curation
    run publishes next to every training mix: doc and word counts,
    EXACT p50/p90 document length, max length, and language spread.

    Scale shape for the exact percentiles: n_chars is a bounded-
    cardinality metric (thousands of distinct values no matter how
    many docs), so instead of a per-source SORT of the corpus (what
    percentile()/a row_number rank would cost) the query aggregates
    (source, n_chars) counts first — map-side combine collapses the
    corpus to |sources| x |distinct lengths| rows — and walks the
    cumulative histogram with a window over that TINY aggregate: the
    p-th percentile (lower method, position floor((n-1)*p)+1) is the
    smallest value whose running count reaches the position. The raw
    corpus never shuffles and never sorts; both exchanges carry
    aggregated rows only. All-integer output, hash-exact vs DuckDB."""
    docs = _t(spark, sf_dir, "documents")
    base = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+")))
        .cast("long").alias("n_words"),
        F.countDistinct("lang").alias("n_langs"),
        F.max("n_chars").alias("max_chars"))
    cum = (docs.groupBy("source", "n_chars").agg(F.count("*").alias("c"))
           .withColumn("cum", F.sum("c").over(
               Window.partitionBy("source").orderBy("n_chars"))))
    pos = lambda q: (F.floor((F.col("n_docs") - 1) * F.lit(q)) + 1)
    pct = (cum.join(F.broadcast(base.select("source", "n_docs")), "source")
           .groupBy("source")
           .agg(F.min(F.when(F.col("cum") >= pos(0.5), F.col("n_chars")))
                .alias("p50_chars"),
                F.min(F.when(F.col("cum") >= pos(0.9), F.col("n_chars")))
                .alias("p90_chars")))
    return (base.join(F.broadcast(pct), "source")
            .select("source", "n_docs", "n_words", "p50_chars",
                    "p90_chars", "max_chars", "n_langs"))


SAMPLE_FRAC = 0.5  # global downsample factor applied after rebalancing


@query(oracle="""
        WITH counts AS (
          SELECT source, count(*) AS cnt FROM documents GROUP BY source
        ), m AS (SELECT min(cnt) AS min_cnt FROM counts),
        rates AS (
          SELECT source,
                 floor(0.5 * m.min_cnt / cnt * 4294967296.0) AS thresh
          FROM counts CROSS JOIN m
        )
        SELECT d.doc_id, d.source
        FROM documents d JOIN rates r USING (source)
        WHERE ('0x' || substr(md5(cast(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
              < r.thresh""")
def q_balanced_sample(spark, sf_dir):
    """Deterministic stratified source-rebalancing sample — the
    data-mix op every pretraining pipeline runs before tokenization:
    downsample every source to (SAMPLE_FRAC x the smallest source's
    size) so the output mix is uniform across sources, with membership
    decided by a content hash rather than rand() so the sample is
    reproducible run-to-run and engine-to-engine. A doc is kept iff
    uniform32(doc_id) < floor(SAMPLE_FRAC * min_count/count_src * 2^32)
    where uniform32 = first 8 hex chars of md5(doc_id) — the same
    uniform both Spark (conv(substr(md5),16,10)) and DuckDB
    (('0x'||substr(md5))::bigint) compute bit-identically.

    Scale shape: the per-source counts aggregate is n_sources rows
    (tiny — broadcast back explicitly), so the corpus side is ONE scan
    + a pure map filter: no corpus shuffle, no per-source sort/rank
    (a row_number()-per-source selection would sort the giant source's
    entire partition; the hash threshold is O(1) per row and
    embarrassingly parallel). Expected kept-count per source is
    Binomial(count, rate) — exact-size selection is deliberately NOT
    the contract at 10^12 rows."""
    docs = _t(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count("*").alias("cnt"))
    min_cnt = counts.agg(F.min("cnt").alias("min_cnt"))
    rates = (counts.crossJoin(F.broadcast(min_cnt))
             .select("source",
                     F.floor(F.lit(SAMPLE_FRAC) * F.col("min_cnt")
                             / F.col("cnt") * F.lit(4294967296.0))
                     .alias("thresh")))
    u32 = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
                 16, 10).cast("long")
    return (docs.join(F.broadcast(rates), "source")
            .where(u32 < F.col("thresh"))
            .select("doc_id", "source"))


@query(oracle="""
        WITH t AS (
          SELECT doc_id, source,
                 CASE WHEN length(trim(text)) = 0 THEN 0
                      ELSE len(string_split_regex(trim(text), '\\s+'))
                 END AS nt
          FROM documents),
        per AS (SELECT source, count(*) AS n_docs,
                       CAST(sum(nt) AS BIGINT) AS n_tokens
                FROM t GROUP BY 1),
        perw AS (SELECT *, CAST(floor(sqrt(n_tokens)) AS BIGINT) AS w
                 FROM per),
        tot AS (SELECT CAST(sum(w) AS BIGINT) AS tw,
                       CAST(sum(n_tokens) AS BIGINT) AS tt FROM perw),
        plan AS (
          SELECT source, n_docs, n_tokens,
                 least(n_tokens, ((tt // 2) * w) // tw) AS target_tokens
          FROM perw CROSS JOIN tot),
        pl2 AS (SELECT *,
                       (target_tokens * 4294967296) // n_tokens AS thresh
                FROM plan),
        kept AS (
          SELECT t.source, count(*) AS n_kept_docs,
                 CAST(sum(t.nt) AS BIGINT) AS n_kept_tokens
          FROM t JOIN pl2 USING (source)
          WHERE ('0x' || substr(md5('mix:' || cast(t.doc_id AS VARCHAR)),
                                1, 8))::BIGINT < thresh
          GROUP BY 1)
        SELECT p.source, p.n_docs, p.n_tokens, p.target_tokens,
               coalesce(k.n_kept_docs, 0) AS n_kept_docs,
               coalesce(k.n_kept_tokens, 0) AS n_kept_tokens
        FROM pl2 p LEFT JOIN kept k USING (source)""")
def q_mixture_sample_plan(spark, sf_dir):
    """DATA-MIXING plan + application — alpha-temperature source
    reweighting (the multilingual/pretraining mixture scheme, alpha=0.5:
    sample source i proportional to sqrt(N_i), flattening the head
    without drowning the tail), distinct from balanced_sample's
    equalize-counts rule. The whole plan is EXACT INTEGER math so both
    engines agree bit-for-bit: weights are isqrt(n_tokens) (sqrt of an
    int is correctly rounded, floor is exact), the token budget is
    total div 2, per-source targets are (budget * w) div total_w capped
    at n_tokens, and the md5-uniform keep threshold is
    (target * 2^32) div n_tokens — no float ever enters an aggregate,
    so no cross-engine addition-order divergence (the CLAUDE.md float
    window-sum lesson). Membership is salted ('mix:') so this sample is
    independent of every other md5-derived decision.

    Scale shape: one corpus scan computes per-doc token counts; the
    source-level plan is a ~#sources-row aggregate (broadcast back
    explicitly), and application is a pure map filter — no corpus
    shuffle, no per-source sort. Products stay under 2^63 until
    ~10^18 token-weight scale; past that, lift the two products to
    DECIMAL(38,0) (both engines support it) — noted here so the
    overflow is a documented boundary, not a silent wrap."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", token_count_col(F.col("text")).alias("nt"))
    per = (docs.groupBy("source")
           .agg(F.count("*").alias("n_docs"),
                F.sum("nt").alias("n_tokens"))
           .withColumn("w", F.floor(F.sqrt(F.col("n_tokens")))
                       .cast("long")))
    tot = per.agg(F.sum("w").alias("tw"), F.sum("n_tokens").alias("tt"))
    plan = (per.crossJoin(F.broadcast(tot))
            .withColumn("target_tokens",
                        F.expr("least(n_tokens, ((tt div 2) * w) div tw)"))
            .withColumn("thresh",
                        F.expr("(target_tokens * 4294967296)"
                               " div n_tokens")))
    u32 = F.conv(F.substring(F.md5(F.concat(
        F.lit("mix:"), F.col("doc_id").cast("string"))), 1, 8),
        16, 10).cast("long")
    kept = (docs.join(F.broadcast(plan.select("source", "thresh")),
                      "source")
            .where(u32 < F.col("thresh"))
            .groupBy("source")
            .agg(F.count("*").alias("n_kept_docs"),
                 F.sum("nt").alias("n_kept_tokens")))
    return (plan.join(kept, "source", "left")
            .select("source", "n_docs", "n_tokens", "target_tokens",
                    F.coalesce("n_kept_docs", F.lit(0)).cast("long")
                    .alias("n_kept_docs"),
                    F.coalesce("n_kept_tokens", F.lit(0)).cast("long")
                    .alias("n_kept_tokens")))


WEIGHTED_SAMPLE_K = 20  # per-source sample size for weighted_sample_topk


@query(oracle="""
        WITH k AS (
          SELECT source, doc_id, n_chars,
                 ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                     ::BIGINT + 0.5) / 4294967296.0) / n_chars AS key
          FROM documents WHERE n_chars > 0
        ), r AS (
          SELECT source, doc_id, n_chars,
                 row_number() OVER (PARTITION BY source
                                    ORDER BY key DESC, doc_id) AS rk
          FROM k)
        SELECT source, doc_id, n_chars, rk FROM r WHERE rk <= 20""")
def q_weighted_sample_topk(spark, sf_dir):
    """WEIGHTED SAMPLING WITHOUT REPLACEMENT (Efraimidis–Spirakis A-ES)
    — the third member of the sampling family: where balanced_sample
    equalizes source counts and mixture_sample_plan temperature-weights
    whole sources, this picks K docs PER source with per-doc inclusion
    probability proportional to a weight (here n_chars — the "sample
    long documents more often" curation rule). A-ES: key = u^(1/w) with
    content-hash uniform u, top-K keys per stratum = the exact
    without-replacement weighted sample; we order by the monotone
    ln(u)/w instead (no pow), and keys never leave the plan — only
    integer/string columns are emitted, so the one float in the method
    can only influence ORDER, which both engines derive from the
    identical IEEE inputs.

    Scale shape: the rank-limit window is the one window formulation
    that is safe on a corpus-sized table — Spark 3.5+ plans
    row_number()<=K as WindowGroupLimit(Partial) BELOW the stratum
    exchange, so every map task prunes to its local top-K per source
    first and the shuffle carries O(partitions x sources x K) rows, not
    the corpus. tools/explain_plans.py pins both WindowGroupLimit nodes
    and the single exchange."""
    from datasketches_rust_spark.operators.sampling import (
        weighted_sample_without_replacement)
    docs = (_t(spark, sf_dir, "documents")
            .select("source", "doc_id", "n_chars"))
    return weighted_sample_without_replacement(
        docs, WEIGHTED_SAMPLE_K, id_col="doc_id", weight_col="n_chars",
        strata_col="source")


FEATURE_HASH_DIM = 64  # hashed-feature space size (2^6 buckets)


@query(oracle="""
        WITH t AS (
          SELECT doc_id,
                 unnest(string_split_regex(lower(trim(text)), '\\s+'))
                   AS tok
          FROM documents WHERE length(trim(text)) > 0)
        SELECT doc_id,
               ('0x' || substr(md5(tok), 1, 8))::BIGINT % 64 AS bucket,
               count(*) AS n
        FROM t GROUP BY 1, 2""")
def q_feature_hash_features(spark, sf_dir):
    """FEATURE HASHING (the hashing-trick vectorizer, sklearn
    HashingVectorizer / VW class): map each token to one of
    FEATURE_HASH_DIM buckets by hash and emit per-doc sparse counts
    (doc_id, bucket, n) — the fixed-dimension, vocabulary-free text
    featurization for downstream ML, where the whole point at 10^12
    docs is that NO vocabulary table is ever built, broadcast, or
    joined (collisions are the accepted trade). The bucket hash is the
    repo's cross-engine md5-uniform (first 8 hex chars as u32, mod D)
    so the DuckDB oracle reproduces every bucket id exactly.

    Scale shape: tokenize + bucket in the scan stage (pure JVM split /
    md5 / conv), then ONE groupBy on (doc_id, bucket) whose shuffle
    rows are two longs + a count — map-side combine collapses each
    doc's repeats before the exchange (tokens repeat within docs; Zipf
    across docs is irrelevant because doc_id is in the key, so no hot
    reducer)."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    bucket = (F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10)
              .cast("long") % FEATURE_HASH_DIM)
    return (docs
            .where(F.length(F.trim(F.col("text"))) > 0)
            .select("doc_id", F.explode(toks).alias("tok"))
            .select("doc_id", bucket.alias("bucket"))
            .groupBy("doc_id", "bucket")
            .agg(F.count("*").alias("n")))


@query(oracle="""
        WITH noisy AS (
          SELECT doc_id,
                 (CASE WHEN doc_id % 5 = 0 THEN chr(7) || ' '
                       ELSE '' END)
                 || (CASE WHEN doc_id % 3 = 0
                     THEN regexp_replace(text, ' ', '  ', 'g')
                     ELSE text END)
                 || (CASE WHEN doc_id % 4 = 0 THEN chr(9) || '  '
                     ELSE '' END) AS t
          FROM documents WHERE text IS NOT NULL),
        s AS (
          SELECT doc_id, t,
                 regexp_replace(t, '[\\x00-\\x08\\x0b-\\x1f\\x7f]',
                                '', 'g') AS st
          FROM noisy),
        n AS (
          SELECT doc_id, t,
                 lower(trim(regexp_replace(st, '\\s+', ' ', 'g')))
                 AS text_norm
          FROM s)
        SELECT doc_id, text_norm,
               length(t) - length(text_norm) AS chars_removed
        FROM n""")
def q_normalize_texts(spark, sf_dir):
    """TEXT NORMALIZATION rewrite — the canonicalization pass that runs
    BEFORE any hashing/dedup so byte-different renderings of the same
    content fingerprint identically: strip C0 control chars (keep
    \\t/\\n), collapse every whitespace run to one space, trim, NFC-style
    casefold (lower). The fixture corpus is already clean (a vacuous
    gate), so deterministic NOISE is injected first, the pii_redaction
    discipline: doc_id%3=0 gains doubled internal spaces, %4=0 a trailing
    tab+spaces, %5=0 a leading BEL control char; the oracle mirrors the
    injection and the gate then genuinely checks cross-engine regex
    parity of the cleaned TEXT (not just counts). Reports per-doc
    normalized text + how many characters normalization removed.

    Scale shape: a pure JVM regexp_replace chain inside whole-stage
    codegen — no Python, no explode, no exchange at all (the rewrite is
    embarrassingly parallel; the output is corpus-sized by design, like
    chunk_dedup_clean)."""
    did = F.col("doc_id")
    noisy = F.concat(
        F.when(did % 5 == 0, F.lit("\x07 ")).otherwise(F.lit("")),
        F.when(did % 3 == 0,
               F.regexp_replace(F.col("text"), F.lit(" "), F.lit("  ")))
        .otherwise(F.col("text")),
        F.when(did % 4 == 0, F.lit("\t  ")).otherwise(F.lit("")))
    # order matters: control-strip first (so a stripped char can't stop
    # a whitespace run from collapsing), collapse second, trim+fold last
    stripped = F.regexp_replace(noisy, r"[\x00-\x08\x0b-\x1f\x7f]", "")
    collapsed = F.regexp_replace(stripped, r"\s+", " ")
    norm = F.lower(F.trim(collapsed))
    return (_t(spark, sf_dir, "documents")
            .where(F.col("text").isNotNull())
            .select("doc_id",
                    norm.alias("text_norm"),
                    (F.length(noisy) - F.length(norm))
                    .alias("chars_removed")))


STABLE_ID_BUCKETS = 64  # range buckets for the distributed row_number


@query(oracle="""
        SELECT doc_id, n_chars,
               row_number() OVER (ORDER BY n_chars, doc_id) AS new_id
        FROM documents WHERE n_chars IS NOT NULL""")
def q_stable_row_ids(spark, sf_dir):
    """GLOBAL ROW NUMBERING at scale (the zipWithIndex / contiguous
    example-id assignment every training-shard writer needs): new_id =
    rank of each doc under a total order (n_chars, doc_id) — WITHOUT the
    single-partition window a naive row_number() OVER (ORDER BY ...)
    plans (the classic accidental serialization: one reducer sorts the
    entire corpus). Distributed formulation: (1) one scalar pre-pass
    gets the key range; (2) rows map to one of STABLE_ID_BUCKETS
    equal-width key buckets (integer math, monotone in the key);
    (3) per-bucket counts aggregate map-side-combined and a cumulative
    sum over that <=64-row table yields each bucket's exclusive global
    offset; (4) new_id = offset + row_number within the bucket — the
    window partitions by bucket, so the only corpus exchange is on
    bucket and each task sorts ONE bucket. Equal-width bucketing is the
    simple deterministic choice (n_chars is bounded-domain here);
    production range-partitioners derive boundaries from a sample
    instead — same plan shape, different boundary source. Plan-audited:
    window exchange on __bucket, NO global sort anywhere."""
    docs = (_t(spark, sf_dir, "documents")
            .where(F.col("n_chars").isNotNull())
            .select("doc_id", "n_chars"))
    mm = docs.agg(F.min("n_chars").alias("lo"),
                  F.max("n_chars").alias("hi"))
    b = (docs.crossJoin(F.broadcast(mm))
         .withColumn("__bucket",
                     F.expr(f"((n_chars - lo) * {STABLE_ID_BUCKETS})"
                            " div (hi - lo + 1)"))
         .drop("lo", "hi"))
    offs = (b.groupBy("__bucket").agg(F.count("*").alias("c"))
            .withColumn("off",
                        F.sum("c").over(Window.orderBy("__bucket"))
                        - F.col("c"))
            .select("__bucket", "off"))
    w = Window.partitionBy("__bucket").orderBy("n_chars", "doc_id")
    return (b.join(F.broadcast(offs), "__bucket")
            .withColumn("new_id",
                        F.row_number().over(w).cast("long")
                        + F.col("off"))
            .select("doc_id", "n_chars", "new_id"))


LINEAR_MODEL_DIM = 64  # hashed weight-vector size for linear inference


@query(oracle_replace="CAST(score AS BIGINT) AS score", oracle="""
        WITH tk AS (
          SELECT doc_id,
                 unnest(string_split_regex(trim(lower(text)), '\\s+'))
                 AS t
          FROM documents
          WHERE length(trim(text)) > 0),
        tb AS (
          SELECT doc_id,
                 ('0x' || substr(md5(t), 1, 8))::BIGINT % 64 AS b
          FROM tk),
        tw AS (
          SELECT doc_id,
                 (('0x' || substr(md5(CAST(b AS VARCHAR)), 1, 8))::BIGINT
                  % 2001) - 1000 AS w
          FROM tb)
        SELECT doc_id, sum(w) AS score, sum(w) > 0 AS kept
        FROM tw GROUP BY doc_id""")
def q_linear_quality_scores(spark, sf_dir):
    """BROADCAST-MODEL LINEAR INFERENCE — the fasttext/VW-style hashed
    linear classifier applied at corpus scale, the "model-based quality
    filter" shape where the model is a dense weight vector over hashed
    token buckets: score(doc) = sum over tokens of w[u32(md5(tok)) mod
    D]. The weights here derive deterministically from the bucket id
    (md5-uniform mapped to integers in [-1000, 1000]) standing in for
    trained weights — the SHAPE is the contract: the weight vector
    travels as ONE broadcast array row (the price_decile_bins cut
    pattern), scoring is a pure JVM fold (explode-free: transform +
    aggregate over the token array), weights are INTEGER so per-doc
    sums are exact cross-engine, and the corpus never shuffles — the
    only exchange in the plan is the broadcast itself. Swapping the
    derived weights for a trained table changes one subquery, not the
    plan. keep = score > 0 (the filter decision a curation run applies)."""
    d = LINEAR_MODEL_DIM
    w_of = (F.conv(F.substring(F.md5(F.col("b").cast("string")), 1, 8),
                   16, 10).cast("long") % 2001 - 1000)
    weights = (spark.range(d).select(F.col("id").alias("b"))
               .select(F.col("b"), w_of.alias("w"))
               .agg(F.array_sort(F.collect_list(F.struct("b", "w")))
                    .alias("bw"))
               .select(F.transform("bw", lambda s: s["w"]).alias("ws")))
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    docs = (_t(spark, sf_dir, "documents")
            .where(F.length(F.trim(F.col("text"))) > 0)
            .select("doc_id", toks.alias("toks")))
    score = F.aggregate(
        "toks", F.lit(0).cast("long"),
        lambda acc, t: acc + F.element_at(
            "ws", (F.conv(F.substring(F.md5(t), 1, 8), 16, 10)
                   .cast("long") % d + 1).cast("int")))
    return (docs.crossJoin(F.broadcast(weights))
            .select("doc_id", score.alias("score"))
            .withColumn("kept", F.col("score") > 0))


@query(oracle_replace="CAST(sum_q6 AS BIGINT) AS sum_q6", oracle="""
        WITH x AS (
          SELECT label, embedding,
                 unnest(range(1, len(embedding) + 1)) AS i
          FROM embeddings),
        e AS (
          SELECT label, CAST(i - 1 AS INTEGER) AS pos,
                 embedding[i]::DOUBLE AS v
          FROM x)
        SELECT label, pos,
               sum(CAST(round(v * 1000000.0) AS BIGINT)) AS sum_q6,
               count(*) AS n
        FROM e GROUP BY label, pos""")
def q_label_centroids(spark, sf_dir):
    """PER-CLASS VECTOR CENTROIDS (class prototypes — the nearest-
    centroid classifier / cluster-seed computation): the mean embedding
    per label, made hash-exact cross-engine by keeping the aggregate in
    INTEGER space: each coordinate quantizes to 1e-6 (round(v*1e6) as
    long — float32 widens to double exactly, both engines round the
    identical double away from zero) and the output is (label, pos,
    sum_q6, n); mean = sum_q6 / (1e6 * n) is one exact division away.
    A float sum() would diverge in addition order across engines AND
    across partitionings of the same engine — the daily_revenue lesson
    applied to vectors.

    Scale shape: posexplode -> groupBy(label, pos) is map-side
    combinable (the exchange carries labels x dim rows regardless of
    corpus size), where an array-typed aggregate (zip_with fold) would
    ship whole vectors into the shuffle."""
    emb = _t(spark, sf_dir, "embeddings")
    ex = emb.select("label",
                    F.posexplode("embedding").alias("pos", "v"))
    return (ex.groupBy("label", "pos")
            .agg(F.sum(F.round(F.col("v").cast("double") * 1e6)
                       .cast("long")).alias("sum_q6"),
                 F.count("*").alias("n")))


SEQ_LEN = 512     # tokens per packed training sequence
PACK_SHARDS = 16  # parallel packing streams per source


@query(oracle="""
        WITH t AS (
          SELECT doc_id, source,
                 doc_id % 16 AS shard,
                 len(string_split_regex(trim(lower(text)), '\\s+'))
                 AS n_tokens
          FROM documents
        ), c AS (
          SELECT *, sum(n_tokens) OVER (
                   PARTITION BY source, shard ORDER BY doc_id
                   ROWS UNBOUNDED PRECEDING) - n_tokens AS strt
          FROM t
        )
        SELECT doc_id, source, shard,
               CAST(n_tokens AS BIGINT) AS n_tokens,
               CAST(strt // 512 AS BIGINT) AS bin_id,
               CAST(strt % 512 AS BIGINT) AS bin_offset
        FROM c""")
def q_sequence_pack_plan(spark, sf_dir):
    """Sequence-packing plan — the step between curation and tokenized
    training shards: docs are concatenated in a deterministic order and
    cut into fixed SEQ_LEN-token sequences (GPT-style boundary-agnostic
    packing), and this query emits the plan row per doc: which sequence
    (bin_id) the doc STARTS in and at what token offset. Packing order
    is (source, shard, doc_id) where shard = doc_id % PACK_SHARDS, so
    the plan is reproducible engine-to-engine and run-to-run.

    Scale shape: ONE exchange on (source, shard) + a per-partition sort
    — the running token total is a window cumsum, all integer math, and
    only (doc_id, source, shard, n_tokens) rows shuffle (token counting
    happens below the exchange; text never moves). Shards exist because
    a per-source-only window would sort an entire source on one reducer
    at 10^12 docs; PACK_SHARDS independent packing streams per source
    bound each sort, and real deployments size the shard count to the
    corpus (the deterministic doc_id % k shard key keeps the oracle
    exact at any k)."""
    from pyspark.sql import Window
    docs = _t(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
    base = docs.select(
        "doc_id", "source",
        F.pmod(F.col("doc_id"), F.lit(PACK_SHARDS)).cast("long")
        .alias("shard"),
        n_tok.cast("long").alias("n_tokens"))
    w = (Window.partitionBy("source", "shard").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = base.withColumn(
        "__start", F.sum("n_tokens").over(w) - F.col("n_tokens"))
    # integer `div`, not floor(double /): a running token total passes
    # 2^53 long before 10^12 docs do and double division drifts there
    return cum.select(
        "doc_id", "source", "shard", "n_tokens",
        F.expr(f"__start div {SEQ_LEN}").alias("bin_id"),
        F.pmod(F.col("__start"), F.lit(SEQ_LEN)).cast("long")
        .alias("bin_offset"))


@query(gate="tests/test_golden_queries.py")
def q_winnow_fingerprints(spark, sf_dir):
    """Winnowing fingerprint stats — no SQL oracle (pytest)."""
    docs = _t(spark, sf_dir, "documents")
    wf = winnow_fingerprints_udf(CFG)
    return (docs.select("doc_id", wf(F.lower(F.col("text"))).alias("fps"))
            .select("doc_id", F.size("fps").alias("n_fps"),
                    F.array_min("fps").alias("min_fp"),
                    F.array_max("fps").alias("max_fp")))


@query(window=21, oracle="""
        WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS e
                   FROM embeddings WHERE vec_id < 10),
        c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS e
              FROM embeddings WHERE vec_id >= 10),
        sims AS (
          SELECT query_id, neighbor_id,
                 list_dot_product(q.e, c.e)
                   / (sqrt(list_dot_product(q.e, q.e))
                      * sqrt(list_dot_product(c.e, c.e))) AS sim
          FROM q CROSS JOIN c)
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, neighbor_id) AS rank
        FROM sims QUALIFY rank <= 3""")
def q_ann_topk_bruteforce(spark, sf_dir):
    """Exact cosine top-3 neighbours of vectors 0-9 among the rest."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 10)
    c = emb.where(F.col("vec_id") >= 10)
    return cosine_topk_bruteforce(q, c, k=3)


_EMB_PAIRS_SQL = """
        WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM v a JOIN v b ON a.vec_id < b.vec_id
        WHERE list_dot_product(a.e, b.e)
              / (sqrt(list_dot_product(a.e, a.e))
                 * sqrt(list_dot_product(b.e, b.e))) >= 0.45"""


@query(window=22, oracle=_EMB_PAIRS_SQL)
def q_embedding_dup_pairs(spark, sf_dir):
    """Scale path: hyperplane-LSH candidates + exact cosine verify — no
    cross join in the plan. Exact vs the brute-force oracle at fixture
    scale (recall of the band stage validated at 1.0 on sf0.01/sf0.1 for
    this nbits/bands/seed; see cosine_pairs_lsh docstring for the
    low-threshold physics)."""
    emb = _t(spark, sf_dir, "embeddings")
    return cosine_pairs_lsh(emb, threshold=0.45, dim=64)


@query(oracle=_EMB_PAIRS_SQL)
def q_embedding_dup_pairs_bruteforce(spark, sf_dir):
    """O(n^2) exactness baseline — correctness anchor, never the plan at
    scale."""
    emb = _t(spark, sf_dir, "embeddings")
    return cosine_pairs_bruteforce(emb, threshold=0.45)


@query(oracle="""
        WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        jp AS (
          SELECT a.vec_id AS batch_id, b.vec_id AS index_id,
                 list_dot_product(a.e, b.e)
                 / (sqrt(list_dot_product(a.e, a.e))
                    * sqrt(list_dot_product(b.e, b.e))) AS s
          FROM v a JOIN v b
            ON a.vec_id % 5 = 0 AND b.vec_id % 5 <> 0
          WHERE list_dot_product(a.e, b.e)
                / (sqrt(list_dot_product(a.e, a.e))
                   * sqrt(list_dot_product(b.e, b.e))) >= 0.45),
        best AS (
          SELECT batch_id, s, index_id, nm FROM (
            SELECT *, count(*) OVER (PARTITION BY batch_id) AS nm,
                   row_number() OVER (PARTITION BY batch_id
                                      ORDER BY s DESC, index_id ASC) AS rk
            FROM jp) WHERE rk = 1)
        SELECT v.vec_id AS batch_id,
               best.batch_id IS NOT NULL AS is_dup,
               coalesce(best.nm, 0) AS n_matches,
               best.s AS best_sim,
               best.index_id AS best_index_id
        FROM embeddings v LEFT JOIN best ON best.batch_id = v.vec_id
        WHERE v.vec_id % 5 = 0""")
def q_embedding_dedup_against_index(spark, sf_dir):
    """Embedding-axis asymmetric dedup (the vector-store ingestion
    shape): an incoming vector batch (vec_id % 5 == 0) is checked
    against the existing index through the LSH candidate path
    (cosine_pairs_lsh: id-only band exchange, hot-bucket star degrade,
    exact-cosine verify), keeping only cross-side pairs; per batch
    vector: is_dup, match count, best match (max cosine, min index id
    on ties) via the same pair-sized struct-max argmax as
    dedup_against_index — no window sort, no vector re-shuffle after
    the verify join."""
    emb = _t(spark, sf_dir, "embeddings")
    pairs = cosine_pairs_lsh(emb, threshold=0.45, dim=64, keep_sim=True)

    def is_b(c):
        return F.pmod(c, F.lit(BATCH_MOD)) == 0

    per = (pairs
           .where(is_b(F.col("id_a")) != is_b(F.col("id_b")))
           .select(
               F.when(is_b(F.col("id_a")), F.col("id_a"))
               .otherwise(F.col("id_b")).alias("batch_id"),
               F.when(is_b(F.col("id_a")), F.col("id_b"))
               .otherwise(F.col("id_a")).alias("index_id"),
               "sim"))
    best = (per.groupBy("batch_id")
            .agg(F.max(F.struct(
                     F.col("sim"),
                     (-F.col("index_id")).alias("neg"))).alias("m"),
                 F.count("*").alias("nm")))
    batch = emb.where(is_b(F.col("vec_id"))) \
        .select(F.col("vec_id").alias("batch_id"))
    return (batch.join(best, "batch_id", "left")
            .select("batch_id",
                    F.col("m").isNotNull().alias("is_dup"),
                    F.coalesce(F.col("nm"), F.lit(0)).cast("long")
                    .alias("n_matches"),
                    F.col("m.sim").alias("best_sim"),
                    (-F.col("m.neg")).cast("long").alias("best_index_id")))


@query(gate="tests/test_golden_queries.py")
def q_lcs_confirm_pairs(spark, sf_dir):
    """Suffix-array substring confirm pass (north_star): LSH candidates
    kept only when a long contiguous byte run is shared. Oracle: none
    (LCS not SQL-expressible) — pytest checks vs brute-force DP."""
    from datasketches_rust_spark.operators.suffix import \
        confirm_pairs_substring
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup_pairs(docs, CFG, "doc_id", "text").select("id_a", "id_b")
    return confirm_pairs_substring(pairs, docs, "doc_id", "text",
                                   min_ratio=0.3) \
        .select("id_a", "id_b", "lcs_len")


@query(gate="tests/test_images.py")
def q_image_dedup_clusters(spark, sf_dir):
    """The north_star image+caption dedup pipeline surfaced in the driver
    contract: deterministic synthetic F1 table (no external data) ->
    caption MinHash/LSH edges + visual phash SimHash edges -> connected
    components. Rows-only here; pipeline-vs-numpy-oracle pair parity and
    the recall >= 0.99 gate are pytest-enforced (tests/test_images.py)."""
    from datasketches_rust_spark.pipeline_images import \
        image_cluster_assignments
    from datasketches_rust_spark.sources.images import images_spark_df
    imgs, _truth = images_spark_df(spark, 5000, seed=42)
    return image_cluster_assignments(imgs, CFG) \
        .select("image_id", "cluster_id")


@query(gate="tests/test_images.py")
def q_image_dedup_keep_best(spark, sf_dir):
    """Image curation counterpart of dedup_representatives: per dup
    cluster keep the sharpest member (max grayscale std of the decoded
    pixels), min-id on ties. Rows-only (pixels have no SQL oracle);
    selection invariants are pytest-enforced against an exact pandas
    recomputation (tests/test_images.py)."""
    from datasketches_rust_spark.pipeline_images import \
        image_dedup_keep_best
    from datasketches_rust_spark.sources.images import images_spark_df
    imgs, _truth = images_spark_df(spark, 2000, seed=42)
    return image_dedup_keep_best(imgs, CFG) \
        .select("cluster_id", "rep_id", "cluster_size")


@query(gate="tests/test_audio.py")
def q_audio_dedup_clusters(spark, sf_dir):
    """Audio-axis near-dup dedup (the 4th modality next to text /
    image / embedding): deterministic synthetic WAV clips (real RIFF
    PCM16 payloads, sources/audio.py) -> band-energy sign fingerprint
    + spectral-shape feature in one decode pass -> pigeonhole banding
    -> JVM dot-product verify -> connected components. Rows-only
    (binary decode has no SQL oracle); pair recall AND precision = 1.0
    vs planted truth are pytest-gated (tests/test_audio.py), as is
    Spark-vs-numpy-kernel fingerprint parity."""
    from datasketches_rust_spark.pipeline_audio import \
        audio_cluster_assignments
    from datasketches_rust_spark.sources.audio import audio_spark_df
    clips, _truth = audio_spark_df(spark, 2000, seed=42)
    return audio_cluster_assignments(clips) \
        .select("clip_id", "cluster_id")


@query(gate="tests/test_audio_frames.py")
def q_audio_frame_dedup_clusters(spark, sf_dir):
    """FRAME-LEVEL audio dedup (Haitsma-Kalker sub-fingerprints — the
    r4 answer to the clip axis' documented time-shift blindness and
    entropy cap): per-overlapping-frame 64-bit sign codes -> two-tier
    code matching (exact inverted index over df-capped informative
    codes + triple-slice banding of the DISTINCT code table) ->
    fractional temporal-vote quorum -> connected components. The
    fixture plants TRIMMED copies (which clip-level codes provably
    lose — pinned) and shared-3-note-intro hard negatives (which the
    quorum must reject). Rows-only (binary decode has no SQL oracle);
    recall = precision = 1.0 vs planted truth pytest-gated
    (tests/test_audio_frames.py); candidate-volume ladder:
    tools/scaling.py --axis audio_frames --sizes 1,4."""
    from datasketches_rust_spark.pipeline_audio import \
        audio_frame_cluster_assignments
    from datasketches_rust_spark.sources.audio import audio_frames_spark_df
    clips, _truth = audio_frames_spark_df(spark, 2000, seed=42)
    return audio_frame_cluster_assignments(clips) \
        .select("clip_id", "cluster_id")


@query(gate="tests/test_images_contamination.py")
def q_image_contamination_check(spark, sf_dir):
    """VISUAL decontamination — the image-axis counterpart of
    contamination_check: flag corpus images within phash Hamming <= 3
    of any held-out eval image (benchmark screenshots leaking into
    training data survive re-encodes, so the match must be perceptual,
    not byte-exact). Eval split = image_id % 10 == 0 (same convention
    as the text query). Scale shape: the eval phash table is
    benchmark-suite-bounded, so its 16-bit pigeonhole band keys
    BROADCAST; the corpus streams through the broadcast band join with
    no shuffle (4 bands guarantee any pair <= 3 bits apart collides),
    and the JVM popcount verify + per-image distinct-eval-match count
    run on collision survivors only. Rows-only (phash has no SQL
    oracle); pinned vs an exact numpy all-pairs Hamming scan in
    tests/test_images_contamination.py."""
    from datasketches_rust_spark.operators.visual import (pigeonhole_layout,
                                                          simhash_bands)
    from datasketches_rust_spark.sources.images import images_spark_df
    imgs, _truth = images_spark_df(spark, 2000, seed=42)
    idx = F.substring("image_id", 5, 10).cast("long")
    corpus = imgs.where(idx % 10 != 0).select("image_id", "phash")
    ev = imgs.where(idx % 10 == 0).select(
        F.col("image_id").alias("eval_id"), F.col("phash").alias("ep"))
    layout = pigeonhole_layout(3)
    cb = (simhash_bands(corpus, "image_id", "phash", layout)
          .withColumnRenamed("__id", "image_id"))
    eb = (simhash_bands(ev, "eval_id", "ep", layout)
          .withColumnRenamed("__id", "eval_id"))
    ham = F.bit_count(F.col("phash").bitwiseXOR(F.col("ep")))
    return (cb.join(F.broadcast(eb), "band_key")
            .where(ham <= 3)
            .groupBy("image_id")
            .agg(F.count_distinct("eval_id").alias("n_eval_matches")))


@query(gate="tests/test_video.py")
def q_video_dedup_clusters(spark, sf_dir):
    """Video-axis near-dup dedup (the 5th modality): deterministic
    synthetic videos (stub container, REAL PNG/lossy-codec frames,
    sources/video.py) -> per-frame DCT phash in one Arrow pass ->
    frame-level phash banding (the image axis' machinery) -> temporal
    vote (>= 4 matched frames connects; a single shared intro frame —
    the hard negative — does not) -> connected components. Rows-only
    (binary decode has no SQL oracle); pair recall AND precision = 1.0
    vs planted truth are pytest-gated (tests/test_video.py)."""
    from datasketches_rust_spark.pipeline_video import \
        video_cluster_assignments
    from datasketches_rust_spark.sources.video import video_spark_df
    vids, _truth = video_spark_df(spark, 1000, seed=42)
    return video_cluster_assignments(vids) \
        .select("video_id", "cluster_id")


@query(gate="tests/test_similarity.py")
def q_embedding_keep_central(spark, sf_dir):
    """Embedding-axis representative selection (rows-only: float
    centrality argmax is not stable enough for a cross-engine hash, so
    the exact-selection gate is pytest vs a union-find + numpy
    recomputation in tests/test_similarity.py)."""
    from datasketches_rust_spark.operators.similarity import \
        embedding_dedup_keep_central
    emb = _t(spark, sf_dir, "embeddings")
    return embedding_dedup_keep_central(emb, threshold=0.45, dim=64)


@query(gate="tests/test_similarity.py")
def q_semantic_dedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): KMeans-scoped semantic dedup —
    within-cell exact-cosine dup groups, each keeping its least-central
    member (the method's diversity rule). Rows-only: DuckDB cannot run
    the KMeans quantizer; the exact selection is pytest-pinned against
    a numpy + union-find recomputation sharing the same trained
    centroids (tests/test_similarity.py), plus a crafted-centroid unit
    test with hand-computable expectations."""
    from datasketches_rust_spark.operators.similarity import semantic_dedup
    emb = _t(spark, sf_dir, "embeddings")
    return semantic_dedup(emb, threshold=0.45, nlist=8)


@query(gate="tests/test_similarity.py")
def q_ann_lsh_topk(spark, sf_dir):
    """LSH-bucketed ANN — approximate, no SQL oracle (pytest recall)."""
    emb = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 200)
    return ann_lsh_topk(emb, k=3, nbits=24, num_bands=8, dim=64)


@query(gate="tests/test_similarity.py")
def q_ann_ivf_topk(spark, sf_dir):
    """IVF-bucketed ANN (KMeans coarse quantizer + cell-bucketed join +
    exact cosine re-rank) — approximate, no SQL oracle (pytest recall
    vs the brute-force top-k in tests/test_similarity.py)."""
    emb = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 200)
    return ann_ivf_topk(emb, k=3, nlist=8, nprobe=3)


@query(gate="tests/test_similarity.py")
def q_ann_recall_report(spark, sf_dir):
    """Recall of every ANN operating point vs the exact brute-force
    top-k, computed in-engine on the same input — makes approximate-
    search quality a driver-visible number (one row per method x
    tuning), not just a pytest assertion. Rows-only: the truth side is
    a cross-engine float argmax (hash-unstable), and DuckDB cannot run
    the KMeans quantizer; the >=0.9 recall gates live in
    tests/test_similarity.py."""
    from datasketches_rust_spark.operators.similarity import \
        ann_recall_report
    emb = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 200)
    return ann_recall_report(emb, k=3, dim=64)


@query(oracle=_SHINGLE_PAIRS_CTE + """,
        edges AS (
          SELECT id_a AS s, id_b AS d FROM jpairs
          UNION ALL SELECT id_b, id_a FROM jpairs),
        reach AS (
          SELECT doc_id AS src, doc_id AS dst FROM documents
          UNION
          SELECT r.src, e.d FROM reach r JOIN edges e ON r.dst = e.s),
        clusters AS (
          SELECT src AS doc_id, min(dst) AS cluster_id
          FROM reach GROUP BY src),
        ranked AS (
          SELECT c.cluster_id, d.doc_id, d.n_chars,
                 row_number() OVER (PARTITION BY c.cluster_id
                                    ORDER BY d.n_chars DESC,
                                             d.doc_id ASC) AS rn,
                 count(*) OVER (PARTITION BY c.cluster_id) AS cluster_size
          FROM clusters c JOIN documents d USING (doc_id))
        SELECT cluster_id, doc_id AS rep_id, n_chars AS rep_n_chars,
               cluster_size
        FROM ranked WHERE rn = 1 AND cluster_size >= 2""")
def q_dedup_representatives(spark, sf_dir):
    """Quality-based representative per near-dup cluster: the member with
    the most characters (min doc_id on ties) — the 'keep the best copy'
    curation step that follows clustering in a training pipeline
    (dedup_keep_canonical keeps min-id instead). One extra groupBy on
    cluster_id over the cluster assignment; the struct-max aggregate is
    partial-agg friendly (map-side combine), so the only added shuffle
    carries one (cluster_id, best, size) row per cluster."""
    docs = _t(spark, sf_dir, "documents")
    clusters = cluster_assignments(docs, CFG, "doc_id", "text")
    sized = clusters.join(docs.select("doc_id", "n_chars"), "doc_id")
    # lexicographic struct max == (max n_chars, then min doc_id)
    best = F.max(F.struct(F.col("n_chars").alias("nc"),
                          (-F.col("doc_id")).alias("neg_id"))).alias("best")
    return (sized.groupBy("cluster_id")
            .agg(F.count("*").alias("cluster_size"), best)
            .where(F.col("cluster_size") >= 2)
            .select("cluster_id",
                    (-F.col("best.neg_id")).cast("long").alias("rep_id"),
                    F.col("best.nc").alias("rep_n_chars"),
                    "cluster_size"))


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
def q_contamination_check(spark, sf_dir):
    """Benchmark decontamination: flag corpus docs sharing any token
    4-gram with the held-out eval split (doc_id % 10 == 0), with the
    count of distinct contaminated grams. Scale shape: the eval-gram dim
    is bounded by benchmark-suite size, so it broadcasts; the corpus side
    streams through a broadcast hash join with no shuffle of the exploded
    grams. At 100 TB the same plan holds — only the corpus:eval ratio
    grows. (A bloom prefilter would cut the explode volume further; the
    exact broadcast join IS the verify step.)"""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    grams = F.array_distinct(F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - 3, F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(toks, i, 4))))
    ex = docs.select("doc_id", F.explode(grams).alias("g"))
    eval_grams = (ex.where(F.col("doc_id") % 10 == 0)
                  .select("g").distinct())
    return (ex.where(F.col("doc_id") % 10 != 0)
            .join(F.broadcast(eval_grams), "g")
            .groupBy("doc_id")
            .agg(F.count_distinct("g").alias("n_contaminated")))


UNIGRAM_MIN_COUNT = 2  # vocab floor; mirrored in the oracle SQL


@query(oracle="""
        WITH toks AS (
          SELECT doc_id,
                 unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
          FROM documents),
        counts AS (SELECT w, count(*) AS c FROM toks GROUP BY w),
        total AS (SELECT sum(c) AS t FROM counts),
        vocab AS (SELECT * FROM counts WHERE c >= 2)
        SELECT doc_id, count(*) AS n_tokens,
               avg(ln(c * 1.0 / t)) AS avg_logprob
        FROM toks JOIN vocab USING (w) CROSS JOIN total
        GROUP BY doc_id""")
def q_unigram_logprob_scores(spark, sf_dir):
    """Model-based quality scoring (the perplexity-filter shape): train
    corpus unigram stats in one pass, score every doc by its mean token
    log-probability in a second. All JVM: one explode, one count
    aggregate, one join back on the token (Zipf makes the vocab tiny
    relative to the corpus — AQE broadcasts it here; at 100 TB the vocab
    of a tokenized corpus still fits a broadcast after a min-count
    floor), one per-doc aggregate. Low scores = rare-token soup, the
    standard pretraining quality cut."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))),
                          r"\s+")).alias("w"))
    counts = toks.groupBy("w").agg(F.count("*").alias("c"))
    total = counts.agg(F.sum("c").alias("t"))
    # min-count floor + EXPLICIT broadcast: the floor caps the vocab
    # (Zipf tail is all singletons) so the broadcast is guaranteed small
    # at any corpus size, and the token join never falls back to a
    # shuffle on Zipf-skewed `w` ("the" owning a reducer). Tokens below
    # the floor are excluded from scoring; the oracle applies the SAME
    # floor (HAVING c >= floor), so the gate stays a hash-match.
    # NOTE: `t` (the normalizer) sums ALL counts pre-floor — the floor
    # prunes the vocab, it doesn't renormalize the model.
    vocab = counts.where(F.col("c") >= UNIGRAM_MIN_COUNT)
    return (toks.join(F.broadcast(vocab), "w")
            .crossJoin(F.broadcast(total))
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_tokens"),
                 F.avg(F.log(F.col("c") / F.col("t")))
                 .alias("avg_logprob")))


BIGRAM_K = 0.5  # add-k smoothing constant; mirrored in the oracle


@query(oracle=r"""
        WITH d AS (
          SELECT doc_id,
                 string_split_regex(lower(trim(text)), '\s+') AS tk
          FROM documents),
        bg AS (
          SELECT doc_id, tk[i] AS p, tk[i + 1] AS w
          FROM d, unnest(range(1, len(tk))) AS t(i)),
        cbg AS (SELECT p, w, count(*) AS cbg FROM bg GROUP BY 1, 2),
        cp AS (SELECT p, sum(cbg) AS cp FROM cbg GROUP BY 1),
        v AS (SELECT count(DISTINCT u) AS v
              FROM (SELECT unnest(tk) AS u FROM d)),
        stats AS (
          SELECT p, w, ln((cbg + 0.5) / (cp + 0.5 * v)) AS logp
          FROM cbg JOIN cp USING (p) CROSS JOIN v),
        pd AS (SELECT doc_id, p, w, count(*) AS n FROM bg GROUP BY 1, 2, 3)
        SELECT doc_id, cast(sum(n) AS BIGINT) AS n_bigrams,
               sum(n * logp) / sum(n) AS avg_logprob
        FROM pd JOIN stats USING (p, w) GROUP BY doc_id""")
def q_bigram_logprob_scores(spark, sf_dir):
    """Model-based quality scoring, conditional upgrade of the unigram
    filter: every doc scored by its mean bigram log-probability
    ln((c(p,w)+k) / (c(p)+k*V)) under add-k smoothing — the 2-gram
    KenLM-style perplexity cut. All JVM: bigrams come from a
    higher-order transform over the split array (no positional
    self-join), stats are two aggregates folded into one (p,w)-keyed
    table, and the scoring join is AGGREGATE-to-AGGREGATE — per-doc
    bigram counts (each (p,w) at most once per doc) against the stats
    table — so raw Zipf-skewed bigrams never reach a join, the same
    discipline as tfidf_top_terms. Self-scoring means every doc bigram
    exists in the stats table (no unseen-mass handling needed)."""
    docs = _t(spark, sf_dir, "documents")
    t = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    bg = (docs.select(
        "doc_id",
        F.explode(F.when(F.size(t) >= 2, F.transform(
            F.sequence(F.lit(1), F.size(t) - 1),
            lambda i: F.struct(F.element_at(t, i).alias("p"),
                               F.element_at(t, i + 1).alias("w")))
        ).otherwise(F.array())).alias("b"))
        .select("doc_id", "b.p", "b.w"))
    cbg = bg.groupBy("p", "w").agg(F.count("*").alias("cbg"))
    cp = cbg.groupBy("p").agg(F.sum("cbg").alias("cp"))
    v = (docs.select(F.explode(t).alias("u"))
         .agg(F.countDistinct("u").alias("v")))
    stats = (cbg.join(cp, "p").crossJoin(F.broadcast(v))
             .select("p", "w",
                     F.log((F.col("cbg") + F.lit(BIGRAM_K))
                           / (F.col("cp") + F.lit(BIGRAM_K) * F.col("v")))
                     .alias("logp")))
    per_doc = bg.groupBy("doc_id", "p", "w").agg(F.count("*").alias("n"))
    return (per_doc.join(stats, ["p", "w"])
            .groupBy("doc_id")
            .agg(F.sum("n").cast("long").alias("n_bigrams"),
                 (F.sum(F.col("n") * F.col("logp")) / F.sum("n"))
                 .alias("avg_logprob")))


@query(oracle=_SHINGLE_PAIRS_CTE + """
        SELECT least(da.source, db.source) AS source_a,
               greatest(da.source, db.source) AS source_b,
               count(*) AS n_pairs
        FROM jpairs
        JOIN documents da ON da.doc_id = id_a
        JOIN documents db ON db.doc_id = id_b
        GROUP BY 1, 2""")
def q_cross_source_dup_pairs(spark, sf_dir):
    """Dataset-lineage analysis: verified near-dup pairs counted per
    unordered source pair — 'which ingestion sources duplicate each
    other'. Reuses the MinHash->LSH->exact-Jaccard pair spine; the two
    source lookups join on doc_id (AQE broadcasts the small pair side at
    this scale; at 10^12 rows both sides are pre-bucketed on doc_id)."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup_pairs(docs, CFG, "doc_id", "text").select("id_a", "id_b")
    src = docs.select("doc_id", "source")
    sa = src.withColumnRenamed("doc_id", "id_a") \
            .withColumnRenamed("source", "sa")
    sb = src.withColumnRenamed("doc_id", "id_b") \
            .withColumnRenamed("source", "sb")
    return (pairs.join(sa, "id_a").join(sb, "id_b")
            .groupBy(F.least("sa", "sb").alias("source_a"),
                     F.greatest("sa", "sb").alias("source_b"))
            .agg(F.count("*").alias("n_pairs")))


# deterministic "v2 snapshot" mutation rule shared with the oracle:
# doc_id % 11 == 0 -> deleted; % 13 == 0 -> text edited; % 17 == 0 ->
# re-added as a NEW doc at doc_id + 1_000_000.
SNAPSHOT_DEL_MOD, SNAPSHOT_EDIT_MOD, SNAPSHOT_ADD_MOD = 11, 13, 17


@query(oracle="""
        WITH v1 AS (SELECT doc_id, source, md5(text) AS fp
                    FROM documents),
        v2 AS (
          SELECT doc_id, source,
                 md5(CASE WHEN doc_id % 13 = 0 THEN text || ' [edited]'
                          ELSE text END) AS fp
          FROM documents WHERE doc_id % 11 <> 0
          UNION ALL
          SELECT doc_id + 1000000, source, md5('new ' || text)
          FROM documents WHERE doc_id % 17 = 0)
        SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
               coalesce(v1.source, v2.source) AS source,
               CASE WHEN v1.fp IS NULL THEN 'added'
                    WHEN v2.fp IS NULL THEN 'removed'
                    ELSE 'modified' END AS change
        FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
        WHERE v1.fp IS NULL OR v2.fp IS NULL OR v1.fp <> v2.fp""")
def q_dataset_snapshot_diff(spark, sf_dir):
    """Dataset VERSION DIFF — the data-lineage op behind every
    incremental curation run ("what changed between snapshot v1 and
    v2?"): added / removed / modified rows classified fingerprint-first.
    The fixture ships one snapshot, so v2 is derived by a deterministic
    doc_id-keyed mutation (delete %11, edit %13, add %17 at shifted
    ids) mirrored exactly in the oracle; the hash gate then checks the
    full-outer-join classification logic cross-engine.

    Scale shape: both sides reduce to (doc_id, source, md5(text))
    BEFORE the join — the text column never reaches an exchange (the
    exact_dedup fingerprint-first discipline); one full outer join on
    the bigint PK (bucketed storage would make it co-located / zero
    shuffle), and 'unchanged' rows — the overwhelming majority in a
    real incremental diff — are filtered before any further hop."""
    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    v1 = docs.select("doc_id", "source", F.md5("text").alias("fp"))
    v2 = (docs.where(did % SNAPSHOT_DEL_MOD != 0)
          .select("doc_id", "source",
                  F.md5(F.when(did % SNAPSHOT_EDIT_MOD == 0,
                               F.concat(F.col("text"), F.lit(" [edited]")))
                        .otherwise(F.col("text"))).alias("fp"))
          .unionByName(
              docs.where(did % SNAPSHOT_ADD_MOD == 0)
              .select((did + 1_000_000).alias("doc_id"), "source",
                      F.md5(F.concat(F.lit("new "), F.col("text")))
                      .alias("fp"))))
    o, n = v1.alias("o"), v2.alias("n")
    j = o.join(n, F.col("o.doc_id") == F.col("n.doc_id"), "full_outer")
    change = (F.when(F.col("o.fp").isNull(), "added")
              .when(F.col("n.fp").isNull(), "removed")
              .otherwise("modified"))
    return (j.where(F.col("o.fp").isNull() | F.col("n.fp").isNull()
                    | (F.col("o.fp") != F.col("n.fp")))
            .select(F.coalesce(F.col("o.doc_id"), F.col("n.doc_id"))
                    .alias("doc_id"),
                    F.coalesce(F.col("o.source"), F.col("n.source"))
                    .alias("source"),
                    change.alias("change")))


@query(window=44, oracle="""
        SELECT doc_id, source,
               md5(CASE WHEN doc_id % 13 = 0 THEN text || ' [edited]'
                        ELSE text END) AS fp
        FROM documents WHERE doc_id % 11 <> 0
        UNION ALL
        SELECT doc_id + 1000000, source, md5('new ' || text)
        FROM documents WHERE doc_id % 17 = 0""")
def q_cdc_apply_reconstruction(spark, sf_dir):
    """MERGE INTO / CDC-apply semantics — the upsert write path of a
    lakehouse table: given snapshot v1 and a change feed (delete /
    update / insert rows, the output shape of q_dataset_snapshot_diff
    extended with the new fingerprint), reconstruct v2 with one MERGE:
    matched+delete drops the row, matched+update rewrites it, unmatched
    insert appends. The gate proves apply(v1, changes) == the directly
    derived v2 cross-engine — i.e. the MERGE join/classification logic
    itself, since both engines build the same change feed.

    Scale shape: the standard MERGE physical plan — one equi-join of
    the base table against the (much smaller) change feed on the PK
    (broadcast when the feed fits, AQE decides here), fingerprints not
    text under the join, inserts unioned in afterwards without touching
    the base scan. Bucketed/Iceberg storage would make the join
    co-located; this is exactly what `MERGE INTO` compiles to."""
    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    v1 = docs.select("doc_id", "source", F.md5("text").alias("fp"))
    # change feed, deterministically derived (same mods as snapshot_diff)
    deletes = (docs.where(did % SNAPSHOT_DEL_MOD == 0)
               .select("doc_id", F.lit("delete").alias("op"),
                       F.lit(None).cast("string").alias("fp_new"),
                       F.lit(None).cast("string").alias("src_new")))
    updates = (docs.where((did % SNAPSHOT_DEL_MOD != 0)
                          & (did % SNAPSHOT_EDIT_MOD == 0))
               .select("doc_id", F.lit("update").alias("op"),
                       F.md5(F.concat(F.col("text"), F.lit(" [edited]")))
                       .alias("fp_new"),
                       F.col("source").alias("src_new")))
    inserts = (docs.where(did % SNAPSHOT_ADD_MOD == 0)
               .select((did + 1_000_000).alias("doc_id"),
                       F.lit("insert").alias("op"),
                       F.md5(F.concat(F.lit("new "), F.col("text")))
                       .alias("fp_new"),
                       F.col("source").alias("src_new")))
    changes = deletes.unionByName(updates)
    # MERGE: base LEFT JOIN feed; delete drops, update rewrites,
    # no-match passes through; inserts append (never touch the base).
    merged = (v1.join(changes, "doc_id", "left")
              .where(F.coalesce(F.col("op") != "delete", F.lit(True)))
              .select("doc_id",
                      F.coalesce("src_new", "source").alias("source"),
                      F.when(F.col("op") == "update", F.col("fp_new"))
                      .otherwise(F.col("fp")).alias("fp")))
    return merged.unionByName(
        inserts.select("doc_id", F.col("src_new").alias("source"),
                       F.col("fp_new").alias("fp")))


@query(oracle=_SHINGLE_PAIRS_CTE + """,
        edges AS (
          SELECT id_a AS s, id_b AS d FROM jpairs
          UNION ALL SELECT id_b, id_a FROM jpairs),
        reach AS (
          SELECT doc_id AS src, doc_id AS dst FROM documents
          UNION
          SELECT r.src, e.d FROM reach r JOIN edges e ON r.dst = e.s),
        cl AS (SELECT src AS doc_id, min(dst) AS cluster_id
               FROM reach GROUP BY src),
        csz AS (SELECT cluster_id, count(*) AS sz FROM cl GROUP BY 1)
        SELECT sz AS cluster_size, count(*) AS n_clusters,
               CAST(sum(sz) AS BIGINT) AS n_docs
        FROM csz GROUP BY 1""")
def q_cluster_size_histogram(spark, sf_dir):
    """The dedup REPORT a user reads first: how much duplication is in
    the corpus, as a cluster-size histogram — (cluster_size, n_clusters,
    n_docs) — from the same LSH->CC assignment the dedup queries use.
    Two aggregate hops over the (doc, cluster) table: sizes per cluster,
    then clusters per size; both map-side combined, the second operates
    on cluster-count rows (already corpus-fraction small), and the
    histogram itself is at most #distinct-sizes rows regardless of
    corpus size. The recursive-CTE oracle recomputes the clusters and
    the same double aggregate."""
    docs = _t(spark, sf_dir, "documents")
    cl = cluster_assignments(docs, CFG, "doc_id", "text")
    sizes = cl.groupBy("cluster_id").agg(F.count("*").alias("sz"))
    return (sizes.groupBy(F.col("sz").alias("cluster_size"))
            .agg(F.count("*").alias("n_clusters"),
                 F.sum("sz").alias("n_docs")))


@query(oracle="""
        WITH RECURSIVE fdocs AS (
          SELECT doc_id, lower(text) AS t, source
          FROM documents
          WHERE n_chars >= 200
            AND (CASE WHEN length(trim(text)) = 0 THEN 0
                 ELSE len(string_split_regex(trim(text), '\\s+')) END)
                >= 30),
        sh_pos AS (
          SELECT doc_id, t,
                 unnest(range(1, greatest(length(t) - 4, 1) + 1)) AS i
          FROM fdocs),
        sh AS (SELECT DISTINCT doc_id, substring(t, i, 5) AS g FROM sh_pos),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
          FROM sh a JOIN sh b USING (g)
          WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
        jpairs AS (
          SELECT id_a, id_b FROM inter
          JOIN sizes sa ON sa.doc_id = id_a
          JOIN sizes sb ON sb.doc_id = id_b
          WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.8),
        edges AS (SELECT id_a AS s, id_b AS d FROM jpairs
                  UNION ALL SELECT id_b, id_a FROM jpairs),
        reach AS (
          SELECT doc_id AS src, doc_id AS dst FROM fdocs
          UNION
          SELECT r.src, e.d FROM reach r JOIN edges e ON r.dst = e.s),
        clusters AS (SELECT src AS doc_id, min(dst) AS cluster_id
                     FROM reach GROUP BY src),
        canon AS (SELECT cluster_id, min(doc_id) AS doc_id
                  FROM clusters GROUP BY cluster_id),
        nd AS (SELECT source, count(*) AS n_docs
               FROM documents GROUP BY source),
        nq AS (SELECT source, count(*) AS n_quality FROM fdocs
               GROUP BY source),
        nk AS (SELECT f.source, count(*) AS n_kept
               FROM canon JOIN fdocs f USING (doc_id) GROUP BY f.source)
        SELECT nd.source, n_docs,
               coalesce(n_quality, 0) AS n_quality,
               coalesce(n_kept, 0) AS n_kept
        FROM nd LEFT JOIN nq USING (source) LEFT JOIN nk USING (source)""")
def q_curation_summary(spark, sf_dir):
    """End-to-end training-data curation funnel in ONE verified query:
    quality gate (char + token floors, JVM expressions) -> near-dup
    clustering of the survivors (MinHash -> LSH -> exact-Jaccard verify
    -> connected components) -> canonical min-id keep per cluster ->
    per-source funnel counts (ingested / passed quality / kept after
    dedup). The composition a 100 TB curation run actually executes; the
    DuckDB oracle recomputes the whole funnel (recursive-CTE reachability
    for the clusters) and the driver hash-compares. Scale shape: the
    gate pushes into the scan; everything downstream operates on the
    filtered subset only; the three per-source aggregates are partial-agg
    shuffles on a low-cardinality key."""
    docs = _t(spark, sf_dir, "documents")
    kept = docs.where((F.col("n_chars") >= 200)
                      & (token_count_col(F.col("text")) >= 30))
    clusters = cluster_assignments(kept, CFG, "doc_id", "text")
    canon = clusters.groupBy("cluster_id") \
        .agg(F.min("doc_id").alias("doc_id"))
    src = kept.select("doc_id", "source")
    n_docs = docs.groupBy("source").agg(F.count("*").alias("n_docs"))
    n_q = src.groupBy("source").agg(F.count("*").alias("n_quality"))
    n_k = (canon.join(src, "doc_id")
           .groupBy("source").agg(F.count("*").alias("n_kept")))
    return (n_docs.join(n_q, "source", "left").join(n_k, "source", "left")
            .select("source", "n_docs",
                    F.coalesce(F.col("n_quality"), F.lit(0))
                    .cast("long").alias("n_quality"),
                    F.coalesce(F.col("n_kept"), F.lit(0))
                    .cast("long").alias("n_kept")))


_PII_ORACLE = """
        WITH p AS (
          SELECT source,
                 text
                 || CASE WHEN doc_id % 3 = 0
                    THEN ' contact user' || CAST(doc_id AS VARCHAR)
                         || '@example.com' ELSE '' END
                 || CASE WHEN doc_id % 5 = 0
                    THEN ' call 555-'
                         || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                         || '-'
                         || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                    ELSE '' END
                 || CASE WHEN doc_id % 7 = 0
                    THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.'
                         || CAST((doc_id // 256) % 256 AS VARCHAR) || '.1'
                    ELSE '' END AS t
          FROM documents),
        m AS (
          SELECT source, t,
                 len(regexp_extract_all(t, '{EMAIL}')) AS ne,
                 len(regexp_extract_all(t, '{PHONE}')) AS np,
                 len(regexp_extract_all(t, '{IP}')) AS ni,
                 length(t) - length(
                   regexp_replace(regexp_replace(regexp_replace(
                     t, '{EMAIL}', '<EMAIL>', 'g'),
                     '{PHONE}', '<PHONE>', 'g'),
                     '{IP}', '<IP>', 'g')) AS removed
          FROM p)
        SELECT source, count(*) AS n_docs,
               CAST(sum(ne) AS BIGINT) AS n_emails,
               CAST(sum(np) AS BIGINT) AS n_phones,
               CAST(sum(ni) AS BIGINT) AS n_ips,
               CAST(sum(CASE WHEN ne + np + ni > 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_docs_with_pii,
               CAST(sum(removed) AS BIGINT) AS redacted_chars
        FROM m GROUP BY source
""".replace("{EMAIL}", PII_EMAIL_RE) \
   .replace("{PHONE}", PII_PHONE_RE) \
   .replace("{IP}", PII_IP_RE)


@query(oracle=_PII_ORACLE)
def q_pii_redaction_stats(spark, sf_dir):
    """PII detection + redaction — the privacy pass every training-data
    pipeline runs before release: regex-match emails, US-style phone
    numbers, and IPv4 addresses, rewrite them to typed placeholders, and
    report per-source detection/rewrite stats. The fixture corpus is
    synthetic-clean (zero matches — a vacuous gate), so the query first
    APPENDS a deterministic contact footer derived from doc_id (email on
    doc_id%3=0, phone on %5=0, IP on %7=0 — overlapping, so per-doc
    match counts vary 0..3); the oracle mirrors the construction exactly
    and the hash gate then genuinely checks cross-engine regex parity of
    both the match COUNTS and the redacted-character totals. Patterns
    are restricted to the Java-regex/RE2 common subset (module constants
    above). Scale shape: detection and redaction are a pure JVM map
    (regexp_count/regexp_replace inside whole-stage codegen — no Python,
    no explode), and the only exchange is the final few-rows per-source
    aggregate under map-side combine."""
    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    footer = [
        F.when(did % 3 == 0,
               F.concat(F.lit(" contact user"), did.cast("string"),
                        F.lit("@example.com"))).otherwise(F.lit("")),
        F.when(did % 5 == 0,
               F.concat(F.lit(" call 555-"),
                        F.lpad((did % 1000).cast("string"), 3, "0"),
                        F.lit("-"),
                        F.lpad((did % 10000).cast("string"), 4, "0"))
               ).otherwise(F.lit("")),
        F.when(did % 7 == 0,
               F.concat(F.lit(" from 10."), (did % 256).cast("string"),
                        F.lit("."),
                        F.expr("(doc_id div 256) % 256").cast("string"),
                        F.lit(".1"))).otherwise(F.lit("")),
    ]
    t = F.concat(F.col("text"), *footer)
    pii = pii_columns(t)
    per_doc = docs.select(
        "source", pii["n_emails"].alias("ne"), pii["n_phones"].alias("np"),
        pii["n_ips"].alias("ni"),
        (F.length(t) - F.length(pii["clean"])).alias("removed"))
    return per_doc.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("ne").alias("n_emails"),
        F.sum("np").alias("n_phones"),
        F.sum("ni").alias("n_ips"),
        F.sum(F.when(F.col("ne") + F.col("np") + F.col("ni") > 0, 1)
              .otherwise(0)).cast("long").alias("n_docs_with_pii"),
        F.sum("removed").alias("redacted_chars"))


_ENTROPY_ALPHABET = "abcdefghijklmnopqrstuvwxyz"


def _entropy_oracle_sql() -> str:
    cnt = ("(length(t) - length(replace(t, '{c}', '')))::DOUBLE"
           .replace("{c}", "%s"))
    counts = [cnt % c for c in _ENTROPY_ALPHABET]
    total = " + ".join(counts)
    terms = " + ".join(
        f"CASE WHEN {c} > 0 THEN -({c} / n_letters) * ln({c} / n_letters) "
        f"ELSE 0.0 END" for c in counts)
    return f"""
        WITH d AS (SELECT doc_id, lower(text) AS t FROM documents),
        tot AS (SELECT doc_id, t, {total} AS n_letters FROM d)
        SELECT doc_id, CAST(n_letters AS BIGINT) AS n_letters,
               {terms} AS entropy_nats
        FROM tot WHERE n_letters > 0"""


@query(oracle=_entropy_oracle_sql())
def q_doc_char_entropy(spark, sf_dir):
    """Character-distribution Shannon entropy per document — a
    gibberish / encoding-noise quality signal (low entropy = repeated
    chars, high = uniform noise). Shuffle-free PURE MAP: letter counts
    come from the length(replace(...)) bounded-alphabet trick (26 JVM
    expressions over the row, no explode/groupBy), folded through
    F.aggregate so codegen emits a LOOP over the count array — the
    straight-line 26-term formulation blows janino's 64KB method limit
    and drops the stage to interpreted eval. The left-fold adds float
    terms in alphabet order, the same order as the oracle's explicit
    `+` chain (ln differs by at most 1 ulp cross-engine; the driver
    rounds to 9 digits)."""
    docs = _t(spark, sf_dir, "documents")
    d = docs.select("doc_id", F.lower(F.col("text")).alias("t"))
    counts = [(F.length("t") - F.length(F.replace(F.col("t"), F.lit(c))))
              .cast("double") for c in _ENTROPY_ALPHABET]
    arr = F.array(*counts)
    total = F.aggregate(arr, F.lit(0.0), lambda a, x: a + x)
    # total is materialized as its own projection (__nl) before the
    # entropy fold references it: higher-order expressions are excluded
    # from Spark's subexpression elimination, so inlining `total` into
    # the lambda would re-evaluate the whole 26-scan fold per element
    # (~700 text scans/row); CollapseProject keeps a non-cheap alias
    # referenced this many times un-inlined. Mirrors the oracle's `tot`
    # CTE — the added projection changes no value.
    d2 = d.select("doc_id", "t", total.alias("__nl"))
    nl = F.col("__nl")
    ent = F.aggregate(
        arr, F.lit(0.0),
        lambda a, c: a + F.when(
            c > 0, -(c / nl) * F.log(c / nl)).otherwise(F.lit(0.0)))
    return (d2.select("doc_id", nl.cast("long").alias("n_letters"),
                      ent.alias("entropy_nats"))
            .where(F.col("n_letters") > 0))


@query(gate="tests/test_pq.py")
def q_ann_ivfpq_topk(spark, sf_dir):
    """IVF-PQ ANN (operators/pq.py) — the memory-bounded index shape for
    10^9+ vectors: vectors compress to m=16 one-byte subspace codes
    (16-64x memory cut), IVF cells propose candidates (ids only), ADC
    table lookups prune each query to a 64-id shortlist, exact cosine
    re-ranks. No SQL oracle (approximate by construction) — recall is
    gated in tests/test_pq.py and driver-visible via ann_recall_report's
    ivfpq operating point."""
    from datasketches_rust_spark.operators.pq import ann_ivfpq_topk
    emb = _t(spark, sf_dir, "embeddings")
    return ann_ivfpq_topk(emb, k=3, dim=64)


def _pagerank_oracle_sql() -> str:
    """Unroll the fixed-iteration PageRank update into chained CTEs over
    the exact dup-pair edge list — the same expression tree per step as
    operators/pagerank.py (init 1/N, step base + d*sum(r/deg)); float
    literals are written so DuckDB parses the identical doubles."""
    from datasketches_rust_spark.operators.pagerank import (
        PAGERANK_DAMPING, PAGERANK_ITERS)
    d = repr(PAGERANK_DAMPING)
    # MATERIALIZED is load-bearing: DuckDB inlines plain CTEs per
    # reference, so without it every r_i re-evaluates the whole shingle
    # self-join — exponential blowup across 15 chained steps.
    head = _SHINGLE_PAIRS_CTE + f""",
sym AS MATERIALIZED (SELECT id_a AS u, id_b AS v FROM jpairs
        UNION ALL SELECT id_b AS u, id_a AS v FROM jpairs),
deg AS MATERIALIZED (SELECT u, count(*) AS deg FROM sym GROUP BY u),
nn AS (SELECT count(*) AS n FROM deg),
consts AS MATERIALIZED (SELECT 1.0::DOUBLE / n AS init,
                  (1.0::DOUBLE - {d}::DOUBLE) / n AS base FROM nn),
r0 AS MATERIALIZED (SELECT u, (SELECT init FROM consts) AS r FROM deg)"""
    steps = []
    for i in range(1, PAGERANK_ITERS + 1):
        steps.append(f"""
r{i} AS MATERIALIZED (
  SELECT s.v AS u,
         (SELECT base FROM consts) + {d}::DOUBLE * sum(p.r / dg.deg) AS r
  FROM sym s JOIN r{i - 1} p ON p.u = s.u JOIN deg dg ON dg.u = s.u
  GROUP BY s.v)""")
    return (head + "," + ",".join(steps)
            + f"\nSELECT u AS doc_id, round(r, 7) AS rank_r7"
              f" FROM r{PAGERANK_ITERS}")


@query(window=41, oracle=_pagerank_oracle_sql())
def q_pagerank_dup_docs(spark, sf_dir):
    """ITERATIVE GRAPH ALGORITHM under the hash gate: PageRank over the
    near-dup graph (operators/pagerank.py — one shuffle per iteration,
    adjacency persisted on its own partitioning, fixed 15 iterations,
    zero driver round-trips in the loop). Centrality ranks the
    boilerplate hubs / template families a curation run inspects
    first. The oracle unrolls the same fixed-iteration update into 15
    chained SQL CTEs over the exact dup-pair edge list (candidate
    recall is exactly 1.0 at fixture config, as minhash_dup_pairs
    proves) — both engines compute the same expression tree per step;
    addition-order float drift (~1e-14) is absorbed by rounding ranks
    to a 7-decimal grid on BOTH sides."""
    from datasketches_rust_spark.operators.pagerank import pagerank
    docs = _t(spark, sf_dir, "documents")
    edges = dedup_pairs(docs, CFG, "doc_id", "text").select("id_a", "id_b")
    pr = pagerank(edges)
    return pr.select(F.col("u").alias("doc_id"),
                     F.round("r", 7).alias("rank_r7"))


SEARCH_TERMS = ("hash", "join", "filter")  # conjunctive query literals


@query(oracle="""
    WITH s AS (
      SELECT doc_id,
        len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                        x -> x = 'hash'))   AS tf_hash,
        len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                        x -> x = 'join'))   AS tf_join,
        len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                        x -> x = 'filter')) AS tf_filter
      FROM documents)
    SELECT doc_id, tf_hash, tf_join, tf_filter,
           (tf_hash + tf_join + tf_filter) AS score
    FROM s
    WHERE tf_hash > 0 AND tf_join > 0 AND tf_filter > 0
    ORDER BY score DESC, doc_id ASC
    LIMIT 20""")
def q_search_documents(spark, sf_dir):
    """BOOLEAN RETRIEVAL (conjunctive keyword search + ranking): docs
    containing ALL query terms, ranked by total term frequency, top-20
    — the IR query-serving shape next to tfidf_top_terms' corpus
    analytics. The scale insight: with the query terms KNOWN, per-doc
    term counts are pure row-local JVM expressions (size(filter(...))
    over the split array — no explode, no token exchange, whole-stage
    codegen), so the corpus is NEVER shuffled at all; the only
    non-scan operator is the global top-k, which Spark plans as
    TakeOrderedAndProject (per-task O(k) heaps + driver merge — the
    tpch_q3 contract, never a global sort). Ties broken by doc_id so
    both engines rank identically; score is integer so the gate is
    float-free. (An INDEXED serving path — posting lists keyed by
    term — pays off when queries outnumber corpus scans; this is the
    scan-side form that builds no index.)"""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    def _tf(term):
        # factory closure: a default-arg lambda breaks pyspark's
        # higher-order-function signature inspection (the bpe gotcha)
        return F.size(F.filter(toks, lambda x: x == F.lit(term)))

    tf = {t: _tf(t) for t in SEARCH_TERMS}
    scored = docs.select(
        "doc_id",
        *[tf[t].cast("long").alias(f"tf_{t}") for t in SEARCH_TERMS])
    cond = F.lit(True)
    for t in SEARCH_TERMS:
        cond = cond & (F.col(f"tf_{t}") > 0)
    score = sum([F.col(f"tf_{t}") for t in SEARCH_TERMS], F.lit(0))
    return (scored.where(cond)
            .withColumn("score", score.cast("long"))
            .orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(20))


@query(oracle="""
    WITH toks AS (
      SELECT doc_id,
             unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
      FROM documents),
    postings AS (
      SELECT w, doc_id, count(*) AS tf
      FROM toks WHERE w IN ('hash', 'join', 'filter')
      GROUP BY w, doc_id),
    hits AS (
      SELECT doc_id, count(DISTINCT w) AS n_terms, sum(tf) AS score
      FROM postings GROUP BY doc_id HAVING count(DISTINCT w) = 3)
    SELECT doc_id, CAST(score AS BIGINT) AS score
    FROM hits
    ORDER BY score DESC, doc_id ASC
    LIMIT 20""")
def q_search_documents_indexed(spark, sf_dir):
    """INDEX-SERVED conjunctive search — the posting-list counterpart
    of search_documents' scan-side form (same query, same result,
    different physical shape; the index pays off when queries vastly
    outnumber corpus scans). The postings table (term, doc_id, tf) is
    a one-time aggregate of the exploded corpus keyed by term — at
    serving time the 3-term IN filter prunes it to the query terms'
    posting lists BEFORE any further work, the conjunctive AND is
    n_terms == 3 on a doc-keyed aggregate of those lists (bounded by
    the sum of the 3 posting-list lengths, never the corpus), and the
    top-k is TakeOrderedAndProject. Identical output contract to
    search_documents (integer score, doc_id tie-break), so the two
    forms cross-check each other through the same oracle shape."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))),
                          r"\s+")).alias("w"))
    postings = (toks.where(F.col("w").isin(*SEARCH_TERMS))
                .groupBy("w", "doc_id")
                .agg(F.count("*").alias("tf")))
    hits = (postings.groupBy("doc_id")
            .agg(F.count_distinct("w").alias("n_terms"),
                 F.sum("tf").alias("score"))
            .where(F.col("n_terms") == len(SEARCH_TERMS)))
    return (hits.select("doc_id", F.col("score").cast("long")
                        .alias("score"))
            .orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(20))


BM25_K1, BM25_B = 1.2, 0.75  # the standard Robertson defaults


@query(window=46, oracle="""
    WITH s AS (
      SELECT doc_id,
        CAST(len(string_split_regex(lower(trim(text)), '\\s+'))
             AS BIGINT) AS dl,
        CAST(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                             x -> x = 'hash')) AS BIGINT)   AS tf_hash,
        CAST(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                             x -> x = 'join')) AS BIGINT)   AS tf_join,
        CAST(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                             x -> x = 'filter')) AS BIGINT) AS tf_filter
      FROM documents),
    st AS (
      SELECT count(*) AS n_docs, sum(dl) AS sum_dl,
             sum(CASE WHEN tf_hash > 0 THEN 1 ELSE 0 END)   AS df_hash,
             sum(CASE WHEN tf_join > 0 THEN 1 ELSE 0 END)   AS df_join,
             sum(CASE WHEN tf_filter > 0 THEN 1 ELSE 0 END) AS df_filter
      FROM s)
    SELECT doc_id, dl, tf_hash, tf_join, tf_filter,
      (CASE WHEN tf_hash > 0 THEN
         ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df_hash AS DOUBLE) + 0.5)
                  / (CAST(df_hash AS DOUBLE) + 0.5))
         * CAST(tf_hash AS DOUBLE) * 2.2
         / (CAST(tf_hash AS DOUBLE)
            + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(dl AS DOUBLE)
                     / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))
       ELSE 0.0 END
       + CASE WHEN tf_join > 0 THEN
         ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df_join AS DOUBLE) + 0.5)
                  / (CAST(df_join AS DOUBLE) + 0.5))
         * CAST(tf_join AS DOUBLE) * 2.2
         / (CAST(tf_join AS DOUBLE)
            + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(dl AS DOUBLE)
                     / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))
       ELSE 0.0 END
       + CASE WHEN tf_filter > 0 THEN
         ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df_filter AS DOUBLE) + 0.5)
                  / (CAST(df_filter AS DOUBLE) + 0.5))
         * CAST(tf_filter AS DOUBLE) * 2.2
         / (CAST(tf_filter AS DOUBLE)
            + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(dl AS DOUBLE)
                     / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))
       ELSE 0.0 END) AS bm25
    FROM s CROSS JOIN st
    WHERE tf_hash > 0 OR tf_join > 0 OR tf_filter > 0""")
def q_bm25_search_scores(spark, sf_dir):
    """RANKED RETRIEVAL (BM25) — the scoring counterpart of
    search_documents' boolean form: every doc matching ANY query term,
    scored by Okapi BM25 (idf-weighted, length-normalized, tf-saturated
    — raw tf ranking over-rewards long spammy docs). Same zero-shuffle
    serving shape as the boolean query: with terms known, tf and dl
    are row-local JVM expressions (no explode, no token exchange); the
    corpus-level constants (N, avgdl, per-term df) come from ONE
    map-side-combined aggregate whose single row broadcasts back via
    crossJoin. Floats hash cross-engine because every input to the
    formula is exact (integer tf/dl/df/N; 0.5/k1/b literals parse to
    identical doubles), division/multiplication are correctly-rounded
    IEEE ops, ln is within 1 ulp (driver rounds to 9 digits — the
    doc_char_entropy argument), and the per-term sum is an EXPLICIT
    left-associated chain in the same term order in both engines (a
    data-dependent aggregation order would not be reproducible)."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")

    def _tf(term):
        return F.size(F.filter(toks, lambda x: x == F.lit(term)))

    base = docs.select(
        "doc_id", F.size(toks).cast("long").alias("dl"),
        *[_tf(t).cast("long").alias(f"tf_{t}") for t in SEARCH_TERMS])
    stats = base.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("sum_dl"),
        *[F.sum(F.when(F.col(f"tf_{t}") > 0, 1).otherwise(0))
          .alias(f"df_{t}") for t in SEARCH_TERMS])
    j = base.crossJoin(F.broadcast(stats))
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs").cast("double")
    norm = F.lit(BM25_K1) * (F.lit(1.0) - F.lit(BM25_B)
                             + F.lit(BM25_B)
                             * (F.col("dl").cast("double") / avgdl))

    def term_score(t):
        tf = F.col(f"tf_{t}").cast("double")
        df = F.col(f"df_{t}").cast("double")
        idf = F.log(F.lit(1.0)
                    + (F.col("n_docs").cast("double") - df + F.lit(0.5))
                    / (df + F.lit(0.5)))
        return F.when(F.col(f"tf_{t}") > 0,
                      idf * tf * F.lit(BM25_K1 + 1.0) / (tf + norm)) \
                .otherwise(F.lit(0.0))

    score = term_score(SEARCH_TERMS[0])
    for t in SEARCH_TERMS[1:]:
        score = score + term_score(t)   # fixed left-assoc term order
    return (j.select("doc_id", "dl",
                     *[f"tf_{t}" for t in SEARCH_TERMS],
                     score.alias("bm25"))
            .where(F.col("bm25") > 0))


KCORE_K = 2          # smallest k with non-trivial structure
KCORE_MAX_ROUNDS = 12


# k-core peeling unrolled to the Spark side's KCORE_MAX_ROUNDS bound;
# peeling is monotone so extra rounds past convergence are no-ops and
# both sides agree at the fixed point. MATERIALIZED is load-bearing
# (the pagerank lesson: DuckDB inlines plain CTEs per reference ->
# exponential re-evaluation across the unrolled chain).
_KCORE_ROUNDS_SQL = []
for _i in range(1, KCORE_MAX_ROUNDS + 1):
    _prev = "edges0" if _i == 1 else f"e{_i - 1}"
    _KCORE_ROUNDS_SQL.append(
        f"n{_i} AS MATERIALIZED (SELECT s FROM {_prev} "
        f"GROUP BY s HAVING count(*) >= {KCORE_K}),\n"
        f"e{_i} AS MATERIALIZED (SELECT e.s, e.d FROM {_prev} e "
        f"JOIN n{_i} a ON a.s = e.s JOIN n{_i} b ON b.s = e.d)")


@query(window=29, oracle=_SHINGLE_PAIRS_CTE + """,
    edges0 AS MATERIALIZED (
      SELECT id_a AS s, id_b AS d FROM jpairs
      UNION ALL SELECT id_b, id_a FROM jpairs),
    """ + ",\n    ".join(_KCORE_ROUNDS_SQL) + f"""
    SELECT s AS doc_id, CAST(count(*) AS BIGINT) AS degree
    FROM e{KCORE_MAX_ROUNDS} GROUP BY s""")
def q_dup_graph_kcore(spark, sf_dir):
    """K-CORE DECOMPOSITION of the dup graph (the k=2 core: nodes
    surviving iterative removal of degree<2 nodes — the "redundantly
    confirmed" subgraph next to dup_graph_triangles' local density and
    dup_cluster_radius' stretch: a chain's endpoints peel away, cycles
    and cliques survive, so core membership separates
    one-edge-evidence dups from multiply-witnessed ones). Iterative
    peeling is monotone (the survivor set only shrinks), so the oracle
    unrolls the same rounds as MATERIALIZED CTE steps (the pagerank
    discipline) and BOTH sides share the convergence bound: the Spark
    loop raises past KCORE_MAX_ROUNDS rather than silently truncating,
    and the fixture converges in far fewer. Each round costs exactly
    ONE Spark job (the CC one-job-per-round discipline): the round's
    checkpoint is LAZY (eager=False) and the convergence count() both
    materializes it and yields the survivor count, which is carried
    forward so the next round never re-counts the current edge set.
    Edges-only, frontier-sized semi-joins throughout. Output:
    surviving nodes with their within-core degree."""
    from pyspark.storagelevel import StorageLevel
    from datasketches_rust_spark.operators.connected_components import \
        symmetric_edges
    docs = _t(spark, sf_dir, "documents")
    edges = (dedup_pairs(docs, CFG, "doc_id", "text")
             .select("id_a", "id_b")
             .localCheckpoint(storageLevel=StorageLevel.MEMORY_AND_DISK))
    sym = symmetric_edges(edges).toDF("id_a", "id_b")
    cur, prev_n = sym, sym.count()
    for _ in range(KCORE_MAX_ROUNDS):
        deg = cur.groupBy("id_a").agg(F.count("*").alias("d"))
        keep = deg.where(F.col("d") >= KCORE_K).select("id_a")
        nxt = (cur.join(keep, "id_a")
               .join(keep.select(F.col("id_a").alias("id_b")), "id_b")
               .localCheckpoint(
                   eager=False,
                   storageLevel=StorageLevel.MEMORY_AND_DISK))
        n = nxt.count()
        if n == prev_n:
            core = (nxt.groupBy("id_a").agg(F.count("*").alias("degree"))
                    .select(F.col("id_a").alias("doc_id"), "degree"))
            return core
        cur, prev_n = nxt, n
    raise RuntimeError(
        f"k-core peeling did not stabilize in {KCORE_MAX_ROUNDS} rounds"
        " — raise KCORE_MAX_ROUNDS (and the oracle's unroll depth)")


@query(window=38, oracle="""
    WITH x AS (
      SELECT vec_id % 2 = 0 AS in_a, embedding,
             unnest(range(1, len(embedding) + 1)) AS i
      FROM embeddings),
    e AS (
      SELECT in_a, CAST(i - 1 AS INTEGER) AS pos,
             CAST(round(embedding[i]::DOUBLE * 1000000.0) AS BIGINT)
               AS q6
      FROM x),
    agg_ AS (
      SELECT pos,
             CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT)
               AS n_a,
             CAST(sum(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT)
               AS n_b,
             CAST(sum(CASE WHEN in_a THEN q6 ELSE 0 END) AS BIGINT)
               AS sum_q6_a,
             CAST(sum(CASE WHEN in_a THEN 0 ELSE q6 END) AS BIGINT)
               AS sum_q6_b
      FROM e GROUP BY 1)
    SELECT pos, n_a, n_b, sum_q6_a, sum_q6_b,
           CAST(n_b * sum_q6_a - n_a * sum_q6_b AS BIGINT)
             AS shift_num,
           CAST(sum_q6_a AS DOUBLE) / CAST(n_a AS DOUBLE)
           - CAST(sum_q6_b AS DOUBLE) / CAST(n_b AS DOUBLE)
             AS mean_delta_q6
    FROM agg_""")
def q_embedding_drift_report(spark, sf_dir):
    """PER-DIMENSION EMBEDDING DRIFT (the vector-space counterpart of
    event_type_drift_report's categorical PSI: "did the embedding
    distribution move between two cohorts?" — the retrain trigger for
    ANN indexes and semantic-dedup thresholds). Cohorts split
    deterministically by vec_id parity; per dimension the report
    carries EXACT integers (counts and 1e-6-quantized coordinate sums
    — the label_centroids discipline: a float mean would diverge in
    addition order) plus the sign-exact cross-product
    shift_num = n_b*sum_a - n_a*sum_b (positive iff cohort A's mean
    exceeds B's, no division) and the one shared-expression float
    delta. Scale shape: posexplode -> groupBy(pos) with a conditional
    aggregate is map-side combinable; the exchange carries dim-bounded
    rows regardless of corpus size."""
    emb = _t(spark, sf_dir, "embeddings")
    a = (F.col("vec_id") % 2 == 0)
    ex = emb.select(a.alias("in_a"),
                    F.posexplode("embedding").alias("pos", "v"))
    q6 = F.round(F.col("v").cast("double") * 1e6).cast("long")
    agg_ = (ex.groupBy("pos")
            .agg(F.sum(F.when(F.col("in_a"), 1).otherwise(0))
                 .alias("n_a"),
                 F.sum(F.when(~F.col("in_a"), 1).otherwise(0))
                 .alias("n_b"),
                 F.sum(F.when(F.col("in_a"), q6).otherwise(0))
                 .alias("sum_q6_a"),
                 F.sum(F.when(~F.col("in_a"), q6).otherwise(0))
                 .alias("sum_q6_b")))
    shift = (F.col("n_b") * F.col("sum_q6_a")
             - F.col("n_a") * F.col("sum_q6_b"))
    return agg_.select(
        "pos", "n_a", "n_b", "sum_q6_a", "sum_q6_b",
        shift.alias("shift_num"),
        (F.col("sum_q6_a").cast("double") / F.col("n_a").cast("double")
         - F.col("sum_q6_b").cast("double")
         / F.col("n_b").cast("double")).alias("mean_delta_q6"))


@query(window=39, oracle=_SHINGLE_PAIRS_CTE + """
    SELECT i.id_a, i.id_b,
           CAST(i.c AS BIGINT) AS n_shared,
           CAST(sa.n AS BIGINT) AS n_a,
           CAST(sb.n AS BIGINT) AS n_b,
           CAST(sa.n + sb.n - i.c AS BIGINT) AS union_size,
           CAST(i.c AS DOUBLE)
             / CAST(sa.n + sb.n - i.c AS DOUBLE) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.id_a
    JOIN sizes sb ON sb.doc_id = i.id_b
    WHERE i.c * 1.0 / (sa.n + sb.n - i.c) >= 0.8""")
def q_dup_pair_evidence(spark, sf_dir):
    """DEDUP EXPLAINABILITY — the per-pair EVIDENCE table behind every
    verified near-dup verdict (the audit artifact a takedown/merge
    reviewer reads: WHY did these two documents match): shared
    distinct 5-gram count, both set sizes, and the exact Jaccard as
    its integer numerator/denominator plus the one shared-expression
    float. Scale shape: the verified pair list (LSH->verify, the
    expensive part the pipeline already runs) is tiny relative to the
    corpus; shingles REJOIN only for the docs named in pairs (two
    semi-joins prune the exploded table — the id-only/rejoin-once
    pattern), so evidence costs pairs x shingle-set size, never a
    corpus self-join."""
    den = F.col("n_a") + F.col("n_b") - F.col("n_shared")
    return _pair_evidence_table(spark, sf_dir).select(
        "id_a", "id_b", "n_shared", "n_a", "n_b",
        den.alias("union_size"),
        (F.col("n_shared").cast("double") / den.cast("double"))
        .alias("jaccard"))


def _pair_evidence_table(spark, sf_dir):
    """[id_a, id_b, n_shared, n_a, n_b] — exact-integer shingle
    evidence for the pipeline's verified pairs, shingles rejoined ONLY
    for docs named in pairs (the two-semi-join prune; shared by
    dup_pair_evidence and dedup_threshold_sensitivity)."""
    docs = _t(spark, sf_dir, "documents")
    pairs = (dedup_pairs(docs, CFG, "doc_id", "text")
             .select("id_a", "id_b"))
    sh = (docs.select(
        "doc_id",
        F.explode(F.expr(
            "transform(sequence(1, greatest(length(lower(text)) - 4,"
            " 1)), i -> substring(lower(text), i, 5))")).alias("g"))
        .distinct())
    ids = (pairs.select(F.col("id_a").alias("doc_id"))
           .unionAll(pairs.select(F.col("id_b").alias("doc_id")))
           .distinct())
    sh = sh.join(ids, "doc_id")  # prune to docs named in pairs
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    sa = sh.select(F.col("doc_id").alias("id_a"), "g")
    sb = sh.select(F.col("doc_id").alias("b_id"),
                   F.col("g").alias("g_b"))
    shared = (pairs.join(sa, "id_a")
              .join(sb, (F.col("id_b") == F.col("b_id"))
                    & (F.col("g") == F.col("g_b")))
              .groupBy("id_a", "id_b")
              .agg(F.count("*").alias("n_shared")))
    na = sizes.select(F.col("doc_id").alias("id_a"),
                      F.col("n").alias("n_a"))
    nb = sizes.select(F.col("doc_id").alias("id_b"),
                      F.col("n").alias("n_b"))
    return shared.join(na, "id_a").join(nb, "id_b")


@query(oracle=_SHINGLE_PAIRS_CTE + """
    , sp AS (
      SELECT p.id_a, p.id_b,
             least(da.source, db.source) AS source_a,
             greatest(da.source, db.source) AS source_b
      FROM jpairs p
      JOIN documents da ON da.doc_id = p.id_a
      JOIN documents db ON db.doc_id = p.id_b)
    SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(min(struct_pack(a := id_a, b := id_b)).a AS BIGINT)
             AS example_id_a,
           CAST(min(struct_pack(a := id_a, b := id_b)).b AS BIGINT)
             AS example_id_b
    FROM sp GROUP BY 1, 2""")
def q_source_overlap_matrix(spark, sf_dir):
    """DUP-PAIR PROVENANCE MATRIX (which SOURCES duplicate each other
    — the crawl-curation readout that decides which feed to
    deprioritize; cross_source_dup_pairs lists pairs, this is the
    rollup a pipeline owner actually reads). Verified near-dup pairs
    (the pipeline's LSH->exact-Jaccard machinery) joined to each
    side's source, rolled up per UNORDERED source pair
    (lexicographic min/max — (web, wiki) and (wiki, web) are one
    cell): pair count plus the min (id_a, id_b) example pair for
    drill-in. The source lookup is two id-keyed joins of the tiny
    pair list against the 2-column (doc_id, source) projection —
    the id-only/rejoin-once pattern; text never travels."""
    docs = _t(spark, sf_dir, "documents")
    pairs = (dedup_pairs(docs, CFG, "doc_id", "text")
             .select("id_a", "id_b"))
    src = docs.select("doc_id", "source")
    sa = src.select(F.col("doc_id").alias("id_a"),
                    F.col("source").alias("sa"))
    sb = src.select(F.col("doc_id").alias("id_b"),
                    F.col("source").alias("sb"))
    j = (pairs.join(sa, "id_a").join(sb, "id_b")
         .select("id_a", "id_b",
                 F.least("sa", "sb").alias("source_a"),
                 F.greatest("sa", "sb").alias("source_b")))
    return (j.groupBy("source_a", "source_b")
            .agg(F.count("*").alias("n_pairs"),
                 F.min(F.struct("id_a", "id_b")).alias("__ex"))
            .select("source_a", "source_b", "n_pairs",
                    F.col("__ex.id_a").alias("example_id_a"),
                    F.col("__ex.id_b").alias("example_id_b")))


@query(oracle="""
    WITH per AS (
      SELECT source,
             len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w,
             greatest(len(regexp_extract_all(lower(text), '[.!?]')),
                      1) AS s,
             len(regexp_extract_all(lower(text), '[aeiouy]+')) AS y
      FROM documents)
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(w) AS BIGINT) AS words,
           CAST(sum(s) AS BIGINT) AS sentences,
           CAST(sum(y) AS BIGINT) AS syllables,
           206.835
           - 1.015 * (CAST(sum(w) AS DOUBLE)
                      / CAST(sum(s) AS DOUBLE))
           - 84.6 * (CAST(sum(y) AS DOUBLE)
                     / CAST(sum(w) AS DOUBLE)) AS flesch
    FROM per GROUP BY 1""")
def q_readability_by_source(spark, sf_dir):
    """READABILITY SCORING per source (Flesch reading ease off exact
    integer counts — the classic quality-cut axis next to
    text_quality's length/punct ratios and bigram_logprob's LM score).
    Per doc, three JVM regex counts: words ([a-z0-9]+ runs of the
    lowercased text), sentence marks (./!/? — clamped to >= 1 so a
    fragment is one sentence), and syllable proxies ([aeiouy]+ vowel
    groups). Per source the INTEGER sums cross the exchange
    (map-side combined, source-bounded output); the Flesch formula
    206.835 - 1.015*(W/S) - 84.6*(Y/W) is evaluated once per source
    row off the sums — the one shared-expression float. No Python
    anywhere; the corpus never shuffles text."""
    docs = _t(spark, sf_dir, "documents")
    lt = F.lower(F.col("text"))
    words = F.regexp_count(lt, F.lit("[a-z0-9]+"))
    sents = F.greatest(F.regexp_count(lt, F.lit("[.!?]")), F.lit(1))
    syll = F.regexp_count(lt, F.lit("[aeiouy]+"))
    per = docs.select("source", words.alias("w"), sents.alias("s"),
                      syll.alias("y"))
    agg_ = (per.groupBy("source")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("w").alias("words"),
                 F.sum("s").alias("sentences"),
                 F.sum("y").alias("syllables")))
    wd = F.col("words").cast("double")
    flesch = (F.lit(206.835)
              - F.lit(1.015) * (wd / F.col("sentences").cast("double"))
              - F.lit(84.6) * (F.col("syllables").cast("double") / wd))
    return agg_.select("source", "n_docs", "words", "sentences",
                       "syllables", flesch.alias("flesch"))


@query(oracle=_SHINGLE_PAIRS_CTE + """
    , ev AS (
      SELECT i.c AS n_shared, sa.n + sb.n - i.c AS u
      FROM inter i
      JOIN sizes sa ON sa.doc_id = i.id_a
      JOIN sizes sb ON sb.doc_id = i.id_b
      WHERE i.c * 1.0 / (sa.n + sb.n - i.c) >= 0.8)
    SELECT CAST(20 * n_shared // u AS BIGINT) AS jaccard_bucket,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(min(n_shared) AS BIGINT) AS min_shared,
           CAST(max(u) AS BIGINT) AS max_union
    FROM ev GROUP BY 1""")
def q_dedup_threshold_sensitivity(spark, sf_dir):
    """DEDUP THRESHOLD SENSITIVITY (how many pairs each Jaccard band
    above the shipped 0.8 threshold contributes — the tuning readout
    that answers "what happens to dup volume if we move the cut" before
    anyone re-runs the pipeline). Buckets are INTEGER-EXACT: bucket =
    (20 * n_shared) div union_size off the pair-evidence integers
    (bucket 16 = [0.80, 0.85), ..., 20 = exactly 1.0) — a float
    jaccard*20 floor can land differently at exact boundaries
    (the floor-before-cast discipline). Per bucket: pair count plus
    the exact integer min/max numerators for audit. Evidence costs
    pairs x shingle-set size via the shared prune
    (_pair_evidence_table), never a corpus self-join."""
    ev = _pair_evidence_table(spark, sf_dir)
    u = F.col("n_a") + F.col("n_b") - F.col("n_shared")
    bucket = F.expr("20 * n_shared div (n_a + n_b - n_shared)")
    return (ev.select(bucket.alias("jaccard_bucket"),
                      F.col("n_shared"), u.alias("u"))
            .groupBy("jaccard_bucket")
            .agg(F.count("*").alias("n_pairs"),
                 F.min("n_shared").alias("min_shared"),
                 F.max("u").alias("max_union")))


@query(oracle="""
    WITH docs_ AS (SELECT doc_id, lower(text) AS t FROM documents),
    sh_pos AS (
      SELECT doc_id, t,
             unnest(range(1, greatest(length(t) - 4, 1) + 1)) AS i
      FROM docs_),
    sh AS (SELECT DISTINCT doc_id, substring(t, i, 5) AS g
           FROM sh_pos),
    df_ AS (SELECT g, count(*) AS df FROM sh GROUP BY 1)
    SELECT CAST(length(bin(df)) - 1 AS BIGINT) AS lg2_df,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(df) AS BIGINT) AS occurrences,
           CAST(min(df) AS BIGINT) AS min_df,
           CAST(max(df) AS BIGINT) AS max_df
    FROM df_ GROUP BY 1""")
def q_shingle_df_histogram(spark, sf_dir):
    """SHINGLE DOCUMENT-FREQUENCY HISTOGRAM (corpus repetitiveness
    profile: how many distinct 5-grams occur in 1 doc, 2-3, 4-7, ...
    — the readout that predicts LSH bucket skew and chunk-dedup yield
    before running either). Bin = floor(log2(df)) via BIT LENGTH
    (length(bin(df)) - 1 — float logs misland at exact powers of two,
    CLAUDE.md), so every number is integer-exact. Scale shape: the
    exploded distinct (doc, gram) table collapses in ONE map-side-
    combined groupBy(g) — the same exchange class the n-gram dedup
    queries ride — and the histogram is a <= 40-row rollup."""
    docs = _t(spark, sf_dir, "documents")
    sh = (docs.select(
        "doc_id",
        F.explode(F.expr(
            "transform(sequence(1, greatest(length(lower(text)) - 4,"
            " 1)), i -> substring(lower(text), i, 5))")).alias("g"))
        .distinct())
    df_ = sh.groupBy("g").agg(F.count("*").alias("df"))
    bin_ = (F.length(F.bin(F.col("df"))) - 1).alias("lg2_df")
    return (df_.groupBy(bin_)
            .agg(F.count("*").alias("n_grams"),
                 F.sum("df").alias("occurrences"),
                 F.min("df").alias("min_df"),
                 F.max("df").alias("max_df")))
