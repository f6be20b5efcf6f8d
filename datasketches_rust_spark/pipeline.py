"""The end-to-end near-duplicate detection + clustering pipeline
(BASELINE.json north_rule), text modality. The image modality adds phash /
SimHash edges on top (sources/images.py + operators/visual.py).

Stages (SURVEY.md §7 step 4 spine):
  1. signatures : one mapInArrow pass (scan.py) computes shingle
                  hashes -> 128-perm MinHash -> 32x4 LSH band keys per doc
                  (coupon-precompute discipline: hash each shingle once,
                  reuse across all permutations — hll/mod.rs:167-173).
  2. candidates : LSH candidates from one band exchange and one Arrow
                  bucket pass (operators/lsh.py), hot buckets capped.
  3. verify     : exact shingle-set Jaccard on candidate pairs (the
                  "confirm" pass; analog of theta intersection semantics,
                  theta/intersection.rs:142-155) — keep pairs >= threshold.
  4. cluster    : connected components -> cluster_id = min member id.

Every stage returns a DataFrame so callers can checkpoint/inspect between
stages; run_dedup() wires them together.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from datasketches_rust_spark.config import DedupConfig
from datasketches_rust_spark.functions.text import (MINHASH_FIELDS,
                                                    exact_jaccard_udf,
                                                    minhash_kernel)
from datasketches_rust_spark.operators.connected_components import \
    assign_clusters
from datasketches_rust_spark.operators.lsh import candidate_pairs
from datasketches_rust_spark.scan import sketch_pass


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Repartition up to the cluster's default parallelism when the scan
    yields fewer partitions (e.g. one small parquet file locally) — the
    CPU-heavy signature pass should use every core. At production scale the
    scan already has >> defaultParallelism partitions, so this is a no-op
    (no extra shuffle)."""
    if df.isStreaming:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def minhash_signatures(df: DataFrame, cfg: DedupConfig, id_col: str,
                       text_col: str) -> DataFrame:
    """DataFrame[id, sig, bands, n_shingles] — one Arrow pass over the
    id and the lowered text, the only two columns read from the scan."""
    narrow = ensure_parallelism(df.select(F.col(id_col), F.col(text_col)))
    return sketch_pass(narrow, id_col, [F.lower(text_col).alias("__t")],
                       minhash_kernel(cfg), MINHASH_FIELDS)


def dedup_pairs(df: DataFrame, cfg: DedupConfig, id_col: str,
                text_col: str, sigs: DataFrame | None = None) -> DataFrame:
    """DataFrame[id_a, id_b, jaccard] — verified near-dup pairs
    (exact shingle Jaccard >= cfg.jaccard_threshold), id_a < id_b.

    ``sigs``: optional pre-materialized signature table [id, bands]
    (e.g. the image pipeline's fused one-scan sketch table, or a
    checkpointed signature table on re-runs). When omitted, the
    MinHash pass runs inside the candidate job, uncached: its
    MapInArrow output is opaque to the optimizer, so the band
    explode's inferred filter stays above it and the pass runs once.
    """
    if sigs is None:
        sigs = minhash_signatures(df, cfg, id_col, text_col)
    cands = candidate_pairs(sigs, cfg, id_col)

    texts = df.select(F.col(id_col), F.lower(F.col(text_col)).alias("__t"))
    jac = exact_jaccard_udf(cfg)
    # explicit repartition (AQE leaves user-specified counts alone): the
    # candidate set is small in bytes but the exact-Jaccard verify is
    # CPU-heavy, so spreading it over all cores matters more than
    # shuffle-size-driven coalescing
    cands = cands.repartition(
        df.sparkSession.sparkContext.defaultParallelism, "id_a")
    verified = (cands
                .join(texts.withColumnRenamed(id_col, "id_a")
                      .withColumnRenamed("__t", "__ta"), "id_a")
                .join(texts.withColumnRenamed(id_col, "id_b")
                      .withColumnRenamed("__t", "__tb"), "id_b")
                .withColumn("jaccard", jac("__ta", "__tb"))
                .where(F.col("jaccard") >= F.lit(cfg.jaccard_threshold))
                .select("id_a", "id_b", "jaccard"))
    return verified


def cluster_assignments(df: DataFrame, cfg: DedupConfig, id_col: str,
                        text_col: str) -> DataFrame:
    """DataFrame[id, cluster_id] for every input row (singletons included).
    cluster_id = min member id of the connected component."""
    def edges(d: DataFrame, c: str) -> DataFrame:
        return dedup_pairs(d, cfg, c, text_col).select("id_a", "id_b")
    return assign_clusters(df, edges, id_col)


def dedup_keep_canonical(df: DataFrame, cfg: DedupConfig, id_col: str,
                         text_col: str) -> DataFrame:
    """The actual dedup: keep one canonical row (min id) per cluster."""
    clusters = cluster_assignments(df, cfg, id_col, text_col)
    keep = (clusters.groupBy("cluster_id")
            .agg(F.min(id_col).alias(id_col),
                 F.count("*").alias("cluster_size")))
    return df.join(keep, id_col, "inner")
