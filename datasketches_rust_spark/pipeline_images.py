"""Image+caption near-duplicate pipeline (the north_star pipeline).

Edge sources, merged before clustering:
  caption edges — MinHash/LSH/exact-Jaccard on the caption column
                  (pipeline.dedup_pairs), jaccard >= cfg threshold.
  visual edges  — phash Hamming <= cfg.simhash_hamming via pigeonhole
                  banding (operators/visual.simhash_pairs): recall 1.0,
                  then exact popcount verify. phash is DCT-based
                  (sources/phash.py) so JPEG re-encode / bounded noise
                  (PSNR >= 40 dB) keeps Hamming distance ~0-3.

Scale notes: both the caption and the visual path shuffle (band_key,
id) pairs — 16 bytes/row, the band index mixed into the key and string
image ids mapped to xxhash64 longs for the whole internal pipeline.
The heavy `bytes` column is never shuffled: phash is computed at scan time
(the caption MinHash's mapInArrow pass) and only the 8-byte fingerprint
travels. Cluster ids come from connected components over the merged edges.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from datasketches_rust_spark.config import DedupConfig
from datasketches_rust_spark.operators.connected_components import \
    assign_clusters
from datasketches_rust_spark.operators.visual import simhash_pairs
from datasketches_rust_spark.pipeline import dedup_pairs


def image_sketch_table(images: DataFrame, cfg: DedupConfig,
                       id_col: str = "image_id") -> DataFrame:
    """ONE scan computes every per-row sketch the dedup pipeline needs —
    DataFrame[id, bands array<long>, phash long], cached and materialized.

    The caption MinHash/LSH path and the visual phash path each need a
    full pass over the table; fusing them means the parquet row groups
    decompress once, the heavy `bytes` column is read once, and both
    kernels ride the same Arrow batch through one mapInArrow pass. At
    100 TB this halves the scan bill; the cached result is the
    per-partition signature table the north_star checkpoints.

    Cached because two plans read it (caption candidates, visual pairs),
    and counted once so that their AQE leaf stages do not serialize on
    per-partition cache locks while holding task slots.

    Each sketch comes from the columns: with `bytes` + `fmt` the phash
    is DERIVED from the decoded pixels in the scan stage (the north_star
    mode); otherwise the stored `phash` column is trusted. A stored
    `bands` column is trusted the same way; without one the bands come
    from the lowered `caption` (plans/checkpoint.py stores the whole
    table). The fixture stores phash64(decoded) (FIXTURES F1), so both
    yield bit-identical fingerprints there — pinned by
    tests/test_images.py."""
    from datasketches_rust_spark.cache import track
    from datasketches_rust_spark.functions.text import minhash_kernel
    from datasketches_rust_spark.pipeline import ensure_parallelism
    from datasketches_rust_spark.scan import sketch_pass

    minhash = minhash_kernel(cfg)

    def image_sketch(batch):
        from datasketches_rust_spark.multimodal import decode_images
        from datasketches_rust_spark.sources.phash import phash_batch

        names = batch.schema.names
        return None, {
            "bands": minhash(batch)[1]["bands"] if "__t" in names
            else batch.column("bands"),
            "phash": pa.array(phash_batch(decode_images(batch)), pa.int64())
            if "bytes" in names else batch.column("phash")}

    have = set(images.columns)
    inputs = (["bands"] if "bands" in have
              else [F.lower("caption").alias("__t")])
    inputs += ["bytes", "fmt"] if {"bytes", "fmt"} <= have else ["phash"]
    narrow = ensure_parallelism(images.select(id_col, *inputs))
    derive = {"__t", "bytes"} & set(narrow.columns)
    sk = sketch_pass(narrow, id_col, narrow.columns[1:], image_sketch,
                     "bands array<bigint>, phash bigint") if derive else narrow
    sk = track(sk)
    sk.count()
    return sk


def image_edges(images: DataFrame, cfg: DedupConfig,
                id_col: str) -> DataFrame:
    """DataFrame[id_a, id_b] — caption edges (MinHash/LSH/exact
    Jaccard) ∪ visual edges (phash Hamming <= cfg.simhash_hamming),
    both read off the one fused sketch table. No distinct: component
    labeling is idempotent to duplicate edges, so a pair found by both
    paths is just one more (tiny) edge."""
    sk = image_sketch_table(images, cfg, id_col)
    return (dedup_pairs(images, cfg, id_col, "caption",
                        sigs=sk.select(id_col, "bands"))
            .select("id_a", "id_b")
            .unionByName(
                simhash_pairs(sk.select(id_col, "phash"), id_col, "phash",
                              max_hamming=cfg.simhash_hamming)
                .select("id_a", "id_b")))


def image_cluster_assignments(images: DataFrame, cfg: DedupConfig,
                              id_col: str = "image_id") -> DataFrame:
    """DataFrame[image_id, cluster_id] — connected components over
    caption ∪ visual edges (image_edges); cluster_id = min member
    image_id. String ids ride xxhash64 longs through the shuffle-heavy
    middle, with a collision check on the edge-touched ids
    (operators/connected_components.assign_clusters_string_ids)."""
    return assign_clusters(
        images, lambda df, c: image_edges(df, cfg, c), id_col)


def image_dedup_keep_best(images: DataFrame, cfg: DedupConfig,
                          id_col: str = "image_id") -> DataFrame:
    """Quality-based representative per dup cluster: the SHARPEST member
    (max grayscale std over the decoded pixels — a detail/compression
    proxy), min-id on ties — image curation's 'keep the best copy',
    vs image_dedup_keep_canonical's arbitrary min-id.

    Output: DataFrame[cluster_id, rep_id, rep_sharpness, cluster_size].

    Selection runs as two cluster-keyed aggregates (max sharpness, then
    min id among the argmax members) instead of a member sort — both are
    partial-agg shuffles, and float ties (bit-identical copies are
    common in crawl data) stay deterministic."""
    from datasketches_rust_spark.multimodal import image_features
    clusters = image_cluster_assignments(images, cfg, id_col)
    feats = image_features(images).select(
        F.col("image_id").alias(id_col), "std_gray")
    members = clusters.join(feats, id_col)
    best = (members.groupBy("cluster_id")
            .agg(F.max("std_gray").alias("rep_sharpness"),
                 F.count("*").alias("cluster_size")))
    return (members.join(best, "cluster_id")
            .where(F.col("std_gray") == F.col("rep_sharpness"))
            .groupBy("cluster_id", "rep_sharpness", "cluster_size")
            .agg(F.min(id_col).alias("rep_id"))
            .select("cluster_id", "rep_id", "rep_sharpness",
                    "cluster_size"))
