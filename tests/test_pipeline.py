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


def _assert_text_udfs_once(spark, docs_df, build):
    """``build`` over the text dedup edges evaluates MinHash once and the
    exact-Jaccard verify once. AQE is off for the whole build, the
    signature cache's count included, so every subtree prints once in
    one tree; earlier tests' signature caches are released first, so
    this build does not reuse one planned with AQE."""
    import re

    from datasketches_rust_spark.cache import release_tracked
    release_tracked()
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        edges = dedup_pairs(docs_df, CFG, "doc_id", "text")
        plan = (build(edges.select("id_a", "id_b"))
                ._jdf.queryExecution().executedPlan().toString())
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    udfs = re.findall(r"ArrowEvalPython \[\w+\(([^\]]*)\]", plan)
    assert len([u for u in udfs if u.startswith("lower(text#")]) == 1, plan
    assert len([u for u in udfs if u.startswith("__ta#")]) == 1, plan
    assert len(udfs) == 2, plan


def test_text_edge_plan_evaluates_each_udf_once(spark, docs_df):
    """The plan connected components checkpoints evaluates MinHash once
    (the signature cache keeps the optimizer's inferred explode filter
    from running the UDF a second time below the round-robin
    repartition) and the exact-Jaccard verify once (both edge
    directions come from one pass, not one union leg each)."""
    from datasketches_rust_spark.operators.connected_components import \
        symmetric_edges
    _assert_text_udfs_once(spark, docs_df, symmetric_edges)


def test_pagerank_adjacency_evaluates_each_udf_once(spark, docs_df):
    """PageRank's adjacency takes both directions of an edge plan that is
    not checkpointed (q_pagerank_dup_docs passes dedup_pairs straight
    in) from one pass over it: a union leg per direction would run the
    exact-Jaccard verify twice. With n_iter=0 the ranks plan is one scan
    of the adjacency cache, whose plan prints once."""
    from datasketches_rust_spark.operators.pagerank import pagerank
    _assert_text_udfs_once(spark, docs_df, lambda e: pagerank(e, n_iter=0))
