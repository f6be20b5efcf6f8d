"""End-to-end dedup pipeline vs the single-node numpy oracle — the
dup-pair recall >= 0.99 gate (BASELINE.json) on the driver's documents
tables. Both sides run the identical shingle/signature config, so we
require exact pair-set equality, which is stronger than recall 0.99."""

import duckdb
import pytest

from datasketches_rust_spark.config import DedupConfig
from datasketches_rust_spark.oracle import (cluster_pairs, dup_pair_recall,
                                            oracle_clusters, oracle_pairs)
from datasketches_rust_spark.pipeline import (cluster_assignments,
                                              dedup_keep_canonical,
                                              dedup_pairs)

CFG = DedupConfig()


@pytest.fixture(scope="module")
def docs_pdf(sf_correct_dir):
    con = duckdb.connect()
    rows = con.execute(
        f"select doc_id, text from '{sf_correct_dir}/documents.parquet' "
        "order by doc_id").fetchall()
    return [r[0] for r in rows], [r[1] for r in rows]


@pytest.fixture(scope="module")
def docs_df(spark, sf_correct_dir):
    return spark.read.parquet(f"{sf_correct_dir}/documents.parquet")


def test_pairs_match_oracle_exactly(spark, docs_df, docs_pdf):
    ids, texts = docs_pdf
    want = oracle_pairs(ids, texts, CFG)
    got = {(r["id_a"], r["id_b"]) for r in
           dedup_pairs(docs_df, CFG, "doc_id", "text").collect()}
    assert got == want
    assert len(got) == 25  # injected near-dups in the driver table


def test_clusters_match_oracle(spark, docs_df, docs_pdf):
    ids, texts = docs_pdf
    want = oracle_clusters(ids, texts, CFG)
    got = {r["doc_id"]: r["cluster_id"] for r in
           cluster_assignments(docs_df, CFG, "doc_id", "text").collect()}
    assert got == want
    assert dup_pair_recall(got, want) == 1.0
    # every input row got an assignment
    assert len(got) == len(ids)


def test_dedup_keep_canonical(spark, docs_df, docs_pdf):
    ids, texts = docs_pdf
    want = oracle_clusters(ids, texts, CFG)
    n_clusters = len(set(want.values()))
    kept = dedup_keep_canonical(docs_df, CFG, "doc_id", "text")
    rows = kept.collect()
    assert len(rows) == n_clusters
    # canonical = min id per cluster
    want_keep = {min(v for v, c in want.items() if c == cl)
                 for cl in set(want.values())}
    assert {r["doc_id"] for r in rows} == want_keep


def test_jaccard_column_sane(spark, docs_df):
    rows = dedup_pairs(docs_df, CFG, "doc_id", "text").collect()
    for r in rows:
        assert CFG.jaccard_threshold <= r["jaccard"] <= 1.0


def _assert_text_udfs_once(spark, docs_df, build, caches=0):
    """``build`` over the text dedup edges evaluates MinHash once, as one
    MapInArrow pass over (doc_id, lower(text)), and the exact-Jaccard
    verify once, as the plan's only ArrowEvalPython. Nothing on the edge
    path is cached: the plan holds only ``build``'s own ``caches``
    InMemoryTableScans. AQE is off for the whole build, so every subtree
    prints once in one tree."""
    import re

    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        edges = dedup_pairs(docs_df, CFG, "doc_id", "text")
        plan = (build(edges.select("id_a", "id_b"))
                ._jdf.queryExecution().executedPlan().toString())
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    passes = re.findall(r"MapInArrow (\w+)\(([^)]*)\)", plan)
    minhash = [args for name, args in passes if name == "minhash"]
    assert len(minhash) == 1, plan
    assert re.fullmatch(r"doc_id#\d+L, __t#\d+", minhash[0]), plan
    assert re.search(r"lower\(text#\d+\) AS __t#\d+", plan), plan
    udfs = re.findall(r"ArrowEvalPython \[\w+\(([^\]]*)\]", plan)
    assert len(udfs) == 1 and udfs[0].startswith("__ta#"), plan
    assert plan.count("InMemoryTableScan") == caches, plan


def test_text_edge_plan_evaluates_each_udf_once(spark, docs_df):
    """The plan connected components checkpoints evaluates MinHash once
    (its MapInArrow output is opaque to the optimizer, so the inferred
    explode filter cannot run the pass a second time below it) and the
    exact-Jaccard verify once (both edge directions come from one pass,
    not one union leg each)."""
    from datasketches_rust_spark.operators.connected_components import \
        symmetric_edges
    _assert_text_udfs_once(spark, docs_df, symmetric_edges)


def test_kept_jaccard_is_verified_once(spark, docs_df):
    """A plan that keeps dedup_pairs' ``jaccard`` column runs the
    exact-Jaccard verify once: the threshold filter stays above the
    projection that computes it, instead of being pushed below it with a
    copy of the UDF."""
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        plan = (dedup_pairs(docs_df, CFG, "doc_id", "text")
                ._jdf.queryExecution().executedPlan().toString())
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert plan.count("ArrowEvalPython") == 1, plan


def test_pagerank_adjacency_evaluates_each_udf_once(spark, docs_df):
    """PageRank's adjacency takes both directions of an edge plan that is
    not checkpointed (q_pagerank_dup_docs passes dedup_pairs straight
    in) from one pass over it: a union leg per direction would run the
    exact-Jaccard verify twice. With n_iter=0 the ranks plan is one scan
    of the adjacency cache, whose plan prints once."""
    from datasketches_rust_spark.operators.pagerank import pagerank
    _assert_text_udfs_once(spark, docs_df, lambda e: pagerank(e, n_iter=0),
                           caches=1)


def test_minhash_signatures_match_numpy_kernel(spark):
    """The Arrow MinHash pass equals the driver-side kernels row for row,
    including a null text, an empty text and texts shorter than the
    shingle size: null and empty have no shingles and keep the empty
    signature (all bits set), a short text is one zero-padded shingle."""
    import numpy as np

    from datasketches_rust_spark.functions.text import shingle_hashes_batch
    from datasketches_rust_spark.pipeline import minhash_signatures
    from datasketches_rust_spark.sketches import minhash as mh

    texts = [None, "", "ab", "a" * (CFG.shingle_k - 1),
             "the quick brown fox jumps over the lazy dog",
             "The Quick Brown Fox jumps over the lazy dog!"]
    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id long, text string")
    got = {r.doc_id: r for r in
           minhash_signatures(df, CFG, "doc_id", "text").collect()}
    flat, offsets = shingle_hashes_batch(
        [t.lower() if t is not None else None for t in texts],
        CFG.shingle_k, CFG.seed)
    sigs = mh.signatures(flat, offsets, CFG.num_perm, CFG.seed)
    bands = mh.band_hashes(sigs, CFG.lsh_bands, CFG.lsh_rows, CFG.seed)
    for i in range(len(texts)):
        assert got[i].sig == sigs[i].view(np.int64).tolist(), i
        assert got[i].bands == bands[i].tolist(), i
        assert got[i].n_shingles == offsets[i + 1] - offsets[i], i
    assert got[0].sig == got[1].sig == [-1] * CFG.num_perm
    assert got[0].bands == got[1].bands
    assert got[0].n_shingles == got[1].n_shingles == 0
    assert got[2].n_shingles == got[3].n_shingles == 1
