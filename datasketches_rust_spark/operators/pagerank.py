"""Distributed PageRank over an undirected edge list.

A training-data-pipeline extension beyond the reference's sketch surface
(the reference repo has no graph module): centrality over the near-dup
graph ranks the most-connected documents — boilerplate hubs, template
families — the docs a curation run inspects first. Same edge substrate
as connected components (``pipeline.dedup_pairs``), so it composes with
the dedup pipeline for free.

Scale shape
-----------
- The graph lives as an ADJACENCY AGGREGATE ``(u, nbrs, deg)`` built
  once, persisted, and hash-partitioned by node id. Every iteration's
  rank join lands on that same partitioning (``groupBy(u)`` output is
  hashpartitioning(u) with the same partition count), so the join needs
  NO exchange — each iteration costs exactly ONE shuffle (the
  contribution re-aggregation), the minimum any message-passing step can
  do.
- Fixed iteration count, no convergence collect: zero driver round-trips
  inside the loop (cf. connected_components, which folds its convergence
  flag into the label aggregate — here we don't need even that).
- ``localCheckpoint`` every ``checkpoint_every`` iterations truncates
  the lineage chain (15 chained shuffles would otherwise replay from the
  scan on any recompute), same discipline as the BPE merge loop.
- Symmetrized edges mean no dangling nodes (every node has out-degree
  >= 1), so the classic dangling-mass redistribution term is identically
  zero and the update is the pure form
  ``r'(v) = (1-d)/N + d * sum_{u~v} r(u)/deg(u)``.

The arithmetic is written so a fixed-iteration SQL unrolling computes
the SAME expression tree (see queries._pagerank_oracle_sql): init
``1.0/N``, per-step ``base + d * sum(contrib)`` — cross-engine float
sums differ only in addition order (~1e-14), absorbed by the round-7
output grid.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

PAGERANK_DAMPING = 0.85
PAGERANK_ITERS = 15


def pagerank(edges: DataFrame, n_iter: int = PAGERANK_ITERS,
             checkpoint_every: int = 6) -> DataFrame:
    """Rank nodes of the undirected graph given as an (id_a, id_b) edge
    list (each undirected edge once). Returns (u, r) with sum(r) ~ 1."""
    from datasketches_rust_spark import cache
    from datasketches_rust_spark.operators.connected_components import \
        symmetric_edges
    # one pass over edges for both directions: the callers' edge plans
    # are not checkpointed, and a two-leg union would run each one
    # (exact-Jaccard verify UDF included) twice
    sym = symmetric_edges(edges).toDF("u", "v")
    # track()ed, not bare-persisted: the returned ranks frame is lazy and
    # references adj, so this function cannot unpersist before returning —
    # the session cache registry releases it at the next pipeline/CC
    # invocation (same deferred-release contract as the signature tables).
    adj = cache.track(
        sym.groupBy("u")
        .agg(F.collect_list("v").alias("nbrs"),
             F.count("*").alias("deg")))
    n = adj.count()  # one job; also materializes the cache at full
    # parallelism before the iteration fan-out (persist+AQE hazard)
    if n == 0:
        adj.unpersist()
        # over Arrow: a row list would plan a Python RDD scan and a job
        return sym.sparkSession.createDataFrame(pa.table(
            {"u": pa.array([], pa.int64()), "r": pa.array([], pa.float64())}))
    base = (1.0 - PAGERANK_DAMPING) / n
    ranks = adj.select("u", F.lit(1.0 / n).alias("r"))
    for i in range(n_iter):
        contribs = (adj.join(ranks, "u")
                    .select(F.explode("nbrs").alias("u"),
                            (F.col("r") / F.col("deg")).alias("c")))
        ranks = (contribs.groupBy("u")
                 .agg((F.lit(base)
                       + F.lit(PAGERANK_DAMPING) * F.sum("c")).alias("r")))
        if (i + 1) % checkpoint_every == 0 and (i + 1) < n_iter:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks
