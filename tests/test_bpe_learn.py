"""BPE merge LEARNING: the local greedy loop must reproduce the
committed mini-vocab from the corpus it was trained on, and the
distributed loop must agree with the local one exactly. They gate the
bpe_learned_merges query class, which runs the same learner."""

from __future__ import annotations

SF0001 = "/root/testdata/sf0.001"


def test_reproduces_committed_vocab(spark):
    from datasketches_rust_spark.functions.bpe import (MERGES,
                                                       learn_bpe_merges)
    docs = spark.read.parquet(f"{SF0001}/documents.parquet")
    learned = learn_bpe_merges(docs, num_merges=64)
    assert [(a, b) for a, b, _ in learned] == MERGES


def test_distributed_equals_local(spark):
    # force the distributed path (threshold 0) and compare with the
    # driver-local loop on the same corpus, counts included; greedy is
    # prefix-stable, so 12 rounds suffice to exercise argmax ties,
    # the fuse UDF, and the mid-loop checkpoint
    from datasketches_rust_spark.functions.bpe import learn_bpe_merges
    docs = spark.read.parquet(f"{SF0001}/documents.parquet")
    local = learn_bpe_merges(docs, num_merges=12)
    dist = learn_bpe_merges(docs, num_merges=12, collect_threshold=0)
    assert dist == local


def test_learned_vocab_feeds_encoder(spark):
    # end-to-end: learned merges drive bpe_encode the same way the
    # committed table does
    from datasketches_rust_spark.functions.bpe import (bpe_encode,
                                                       learn_bpe_merges)
    docs = spark.read.parquet(f"{SF0001}/documents.parquet")
    learned = learn_bpe_merges(docs, num_merges=64)
    ranks = {(a, b): i for i, (a, b, _) in enumerate(learned)}
    assert bpe_encode(" window", ranks) == [" window"]
    assert bpe_encode("zzz", ranks) == ["z", "z", "z"]
