"""PageRank operator pins: exact parity with a numpy power iteration on
crafted graphs (same fixed-iteration update), invariants, and the
one-shuffle-per-iteration plan discipline."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import Row, functions as F

from datasketches_rust_spark.operators.pagerank import (
    PAGERANK_DAMPING, pagerank)


def _numpy_pagerank(edges, damping, n_iter):
    nodes = sorted({u for e in edges for u in e})
    idx = {u: i for i, u in enumerate(nodes)}
    n = len(nodes)
    deg = np.zeros(n)
    for a, b in edges:
        deg[idx[a]] += 1
        deg[idx[b]] += 1
    r = np.full(n, 1.0 / n)
    base = (1.0 - damping) / n
    for _ in range(n_iter):
        nxt = np.full(n, base)
        for a, b in edges:
            nxt[idx[b]] += damping * r[idx[a]] / deg[idx[a]]
            nxt[idx[a]] += damping * r[idx[b]] / deg[idx[b]]
        r = nxt
    return {u: r[idx[u]] for u in nodes}


GRAPHS = {
    "path": [(1, 2), (2, 3), (3, 4)],
    "star_plus_clique": [(1, 2), (1, 3), (1, 4), (1, 5),
                         (10, 11), (10, 12), (11, 12)],
    "two_components": [(1, 2), (3, 4), (4, 5), (5, 3)],
}


@pytest.mark.parametrize("name", sorted(GRAPHS))
def test_pagerank_matches_numpy(spark, name):
    edges = GRAPHS[name]
    df = spark.createDataFrame(
        [Row(id_a=a, id_b=b) for a, b in edges])
    got = {r["u"]: r["r"] for r in pagerank(df, n_iter=15).collect()}
    want = _numpy_pagerank(edges, PAGERANK_DAMPING, 15)
    assert set(got) == set(want)
    for u in want:
        assert got[u] == pytest.approx(want[u], rel=1e-12), u
    # probability mass conserved (no dangling leakage on a symmetric graph)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)
    if name == "star_plus_clique":
        # the hub out-ranks its leaves
        assert got[1] > got[2]


def test_pagerank_empty_edges(spark):
    df = spark.createDataFrame([], "id_a long, id_b long")
    assert pagerank(df, n_iter=3).collect() == []


def test_pagerank_empty_result_starts_no_job(spark):
    """An empty edge set ranks nothing: the (u, r) frame is a local
    table, so collecting it starts no Spark job (a row-list
    createDataFrame would plan a Python RDD scan)."""
    import uuid

    ranks = pagerank(spark.createDataFrame([], "id_a long, id_b long"))
    assert ranks.dtypes == [("u", "bigint"), ("r", "double")]
    sc = spark.sparkContext
    group = f"pagerank-empty-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        assert ranks.collect() == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert sc.statusTracker().getJobIdsForGroup(group) == []


def test_pagerank_one_exchange_per_iteration(spark):
    """The rank-join must reuse the adjacency cache's partitioning: each
    iteration adds exactly ONE Exchange (the contribution groupBy), so a
    2-iteration plan has at most 2 more exchanges than a 1-iteration
    plan and NO exchange feeding the join side."""
    import io
    from contextlib import redirect_stdout
    df = spark.createDataFrame(
        [Row(id_a=a, id_b=b) for a, b in GRAPHS["star_plus_clique"]])

    def n_exchanges(n_iter):
        pr = pagerank(df, n_iter=n_iter, checkpoint_every=100)
        buf = io.StringIO()
        with redirect_stdout(buf):
            pr.explain("formatted")
        plan = buf.getvalue().split("== Initial Plan ==")[0]
        import re
        return len(re.findall(r"^\(\d+\) Exchange", plan, re.M))

    assert n_exchanges(2) - n_exchanges(1) <= 1
