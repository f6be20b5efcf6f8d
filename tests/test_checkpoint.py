"""Resumability: kill-and-restart from checkpoint reproduces identical
cluster ids (SURVEY.md §5(e)); config change invalidates the checkpoint."""

import os

import pytest

from datasketches_rust_spark.config import DedupConfig
from datasketches_rust_spark.plans.checkpoint import (
    checkpointed_cluster_assignments, is_valid, read_meta, resume_or_compute,
    write_checkpoint)
from datasketches_rust_spark.sources.images import images_spark_df

CFG = DedupConfig()


def test_resume_or_compute_roundtrip(spark, tmp_path):
    root = str(tmp_path / "ckpt")
    calls = []

    def compute():
        calls.append(1)
        return spark.range(100).withColumnRenamed("id", "x")

    df1, resumed1 = resume_or_compute(spark, root, "t", CFG, compute)
    assert not resumed1 and len(calls) == 1
    df2, resumed2 = resume_or_compute(spark, root, "t", CFG, compute)
    assert resumed2 and len(calls) == 1  # no recompute
    assert sorted(r["x"] for r in df2.collect()) == list(range(100))
    meta = read_meta(root, "t")
    assert meta["row_count"] == 100
    assert meta["config_fingerprint"] == CFG.fingerprint()
    assert meta["n_files"] == len(meta["lineage"]) > 0


def test_config_change_invalidates(spark, tmp_path):
    root = str(tmp_path / "ckpt2")
    write_checkpoint(spark.range(10), root, "t", CFG)
    assert is_valid(root, "t", CFG)
    other = DedupConfig(jaccard_threshold=0.7)
    assert not is_valid(root, "t", other)  # seed-hash discipline


def test_kill_and_restart_identical_clusters(spark, tmp_path):
    """Run the checkpointed flagship, then 'restart' (fresh call, same
    root): resumed run must produce byte-identical assignments."""
    root = str(tmp_path / "flagship")
    images, _ = images_spark_df(spark, 400, seed=42, partitions=4)
    images = images.localCheckpoint()

    c1, stages1 = checkpointed_cluster_assignments(spark, images, CFG, root)
    r1 = {r["image_id"]: r["cluster_id"] for r in c1.collect()}
    assert stages1 == {"signatures_resumed": False,
                       "clusters_resumed": False}

    c2, stages2 = checkpointed_cluster_assignments(spark, images, CFG, root)
    r2 = {r["image_id"]: r["cluster_id"] for r in c2.collect()}
    assert stages2 == {"signatures_resumed": True, "clusters_resumed": True}
    assert r1 == r2

    # partial-failure resume: clusters checkpoint lost, signatures kept
    import shutil
    shutil.rmtree(os.path.join(root, "clusters"))
    c3, stages3 = checkpointed_cluster_assignments(spark, images, CFG, root)
    r3 = {r["image_id"]: r["cluster_id"] for r in c3.collect()}
    assert stages3 == {"signatures_resumed": True, "clusters_resumed": False}
    assert r3 == r1

    meta = read_meta(root, "clusters")
    assert meta["metrics"] == {} or "n_buckets" in meta["metrics"]


def test_fresh_run_shingles_each_caption_once(spark, tmp_path, monkeypatch):
    """A fresh checkpointed run computes the caption MinHash once: the
    signatures checkpoint is the fused sketch table, and the clusters
    stage reads its stored bands instead of shingling the captions
    again. The counting wrapper rides the pickled scan kernel to the
    workers, which report its rows through an accumulator (the verify
    shingles through unique_shingle_sets, which the workers import
    unwrapped)."""
    from datasketches_rust_spark.functions import text

    images, _ = images_spark_df(spark, 400, seed=42, partitions=4)
    images = images.localCheckpoint()
    rows = spark.sparkContext.accumulator(0)
    shingle = text.shingle_hashes_batch

    def counted(texts, k, seed):
        rows.add(len(texts))
        return shingle(texts, k, seed)

    monkeypatch.setattr(text, "shingle_hashes_batch", counted)
    clusters, stages = checkpointed_cluster_assignments(
        spark, images, CFG, str(tmp_path / "fresh"))
    assert len(clusters.collect()) == 400
    assert stages == {"signatures_resumed": False, "clusters_resumed": False}
    assert rows.value == 400
