"""Resumable checkpoints with config fingerprint + lineage + metrics
(north_rule: "resumable from checkpoint with per-partition lineage +
metrics").

Layout per checkpoint (parquet in-sandbox; the same layout maps 1:1 onto
an Iceberg table + snapshot metadata on a real cluster):

  <root>/<name>/data/...            the checkpointed DataFrame
  <root>/<name>/_dsrs_meta.json     {config_fingerprint, row_count,
                                     per-partition lineage rows, metrics,
                                     schema, writer_version}

Resume contract: ``resume_or_compute`` replays the stored data IFF the
config fingerprint matches (the reference's seed-hash discipline,
theta/intersection.rs:81-87 — states from different configs must never
merge); otherwise recomputes and overwrites. Writes are atomic via
write-then-rename of the meta file (data without meta = invalid).

The estimate-from-metadata trick (cpc/wrapper.rs:40-49 — read the
estimate without inflating the sketch) becomes: row_count + stage metrics
live in the meta json, so monitoring reads no parquet.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from datasketches_rust_spark.config import DedupConfig

WRITER_VERSION = 2  # 2: signatures is the fused (id, caption, bands, phash)


def _meta_path(root: str, name: str) -> str:
    return os.path.join(root, name, "_dsrs_meta.json")


def _data_path(root: str, name: str) -> str:
    return os.path.join(root, name, "data")


def write_checkpoint(df: DataFrame, root: str, name: str,
                     cfg: DedupConfig, metrics: dict | None = None) -> dict:
    """Materialize df to parquet + meta. Returns the meta dict."""
    data = _data_path(root, name)
    df.write.mode("overwrite").parquet(data)
    spark = df.sparkSession
    back = spark.read.parquet(data)
    # per-partition (file-level) lineage: rows per file
    lineage = [
        {"file": os.path.basename(r["f"]), "rows": r["n"]}
        for r in back.groupBy(F.input_file_name().alias("f"))
        .agg(F.count("*").alias("n")).collect()
    ]
    meta = {
        "writer_version": WRITER_VERSION,
        "config_fingerprint": cfg.fingerprint(),
        "row_count": sum(x["rows"] for x in lineage),
        "n_files": len(lineage),
        "lineage": sorted(lineage, key=lambda x: x["file"]),
        "schema": back.schema.simpleString(),
        "written_at": time.time(),
        "metrics": metrics or {},
    }
    tmp = _meta_path(root, name) + ".tmp"
    os.makedirs(os.path.dirname(tmp), exist_ok=True)
    with open(tmp, "w") as f:
        json.dump(meta, f, indent=1)
    os.replace(tmp, _meta_path(root, name))  # atomic publish
    return meta


def read_meta(root: str, name: str) -> dict | None:
    p = _meta_path(root, name)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def is_valid(root: str, name: str, cfg: DedupConfig) -> bool:
    meta = read_meta(root, name)
    return (meta is not None
            and meta.get("writer_version") == WRITER_VERSION
            and meta.get("config_fingerprint") == cfg.fingerprint())


def resume_or_compute(spark: SparkSession, root: str, name: str,
                      cfg: DedupConfig, compute, metrics: dict | None = None
                      ) -> tuple[DataFrame, bool]:
    """(df, resumed). compute: () -> DataFrame, invoked only on miss."""
    if is_valid(root, name, cfg):
        return spark.read.parquet(_data_path(root, name)), True
    df = compute()
    write_checkpoint(df, root, name, cfg, metrics)
    return spark.read.parquet(_data_path(root, name)), False


def checkpointed_cluster_assignments(spark: SparkSession, images: DataFrame,
                                     cfg: DedupConfig, root: str,
                                     id_col: str = "image_id"
                                     ) -> tuple[DataFrame, dict]:
    """The resumable flagship: signatures and clusters checkpoint
    separately, with identical results on resume (keyed hashing =>
    deterministic). A completed clusters checkpoint is replayed as is.
    The signatures checkpoint is the fused sketch table plus the
    caption, (id, caption, bands, phash): the clusters stage runs
    ``image_cluster_assignments`` over it, which trusts the stored
    bands and phash, so a fresh run computes the caption MinHash once
    and a run killed between the two stages computes none."""
    from datasketches_rust_spark.operators.lsh import hot_bucket_stats
    from datasketches_rust_spark.pipeline_images import (
        image_cluster_assignments, image_sketch_table)

    stages = {}

    sigs, resumed_sigs = resume_or_compute(
        spark, root, "signatures", cfg,
        lambda: image_sketch_table(images, cfg, id_col)
        .join(images.select(id_col, "caption"), id_col)
        .select(id_col, "caption", "bands", "phash"))
    stages["signatures_resumed"] = resumed_sigs

    bucket_metrics = {r: v for r, v in zip(
        ["n_buckets", "max_bucket", "p999_bucket", "capped_buckets"],
        hot_bucket_stats(sigs, cfg, id_col).first())} \
        if not resumed_sigs else {}

    clusters, resumed_clusters = resume_or_compute(
        spark, root, "clusters", cfg,
        lambda: image_cluster_assignments(sigs, cfg, id_col),
        metrics=bucket_metrics)
    stages["clusters_resumed"] = resumed_clusters
    return clusters, stages
