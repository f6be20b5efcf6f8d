"""Multi-source BFS distances over an undirected edge DataFrame — the
third iterative graph operator next to connected components (min-label
propagation) and PageRank (power iteration).

Dedup use: distance from each cluster member to the cluster's canonical
representative. Together with the triangle census (dup_graph_triangles)
this is the cluster-SHAPE diagnostic: radius 1 means every member
directly matched the representative (clique-like — safe to collapse),
radius >= 3 means the cluster is a threshold-straddling CHAIN where the
far members may share nothing with the representative (collapsing merges
non-dups). The LSH hot-bucket star degrade upstream bounds within-bucket
distances at 2, so large radii localize genuine drift, not an artifact.

Scale shape (same discipline as connected_components): the symmetric
edge list is checkpointed SERIALIZED once and re-read per round; each
round is one frontier-sized equi-join + a distinct + an anti-join
against the visited set — never the corpus, only the dup-graph nodes.
Rounds = eccentricity of the farthest node (dedup graphs: single
digits), each round two tiny jobs (frontier materialize + count). Raises
instead of returning wrong distances if ``max_depth`` is exhausted with
the frontier still growing — the CC non-convergence contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


class DepthExhausted(RuntimeError):
    """BFS hit max_depth with the frontier still non-empty."""


def bfs_distances(edges: DataFrame, sources: DataFrame,
                  id_col: str = "id", max_depth: int = 16) -> DataFrame:
    """DataFrame[node, dist] — unweighted shortest-hop distance from the
    nearest row of ``sources`` (multi-source BFS; sources get dist 0).
    Only nodes reachable from a source appear. Edges (id_a, id_b) are
    treated as undirected."""
    from pyspark.storagelevel import StorageLevel
    from datasketches_rust_spark.operators.connected_components import \
        symmetric_edges

    lvl = StorageLevel.MEMORY_AND_DISK  # pyspark's SERIALIZED level
    sym = symmetric_edges(edges).localCheckpoint(storageLevel=lvl)

    visited = (sources.select(F.col(id_col).alias("node")).distinct()
               .withColumn("dist", F.lit(0))
               .localCheckpoint(storageLevel=lvl))
    frontier = visited

    for depth in range(1, max_depth + 1):
        nxt = (frontier.join(sym, frontier["node"] == sym["s"])
               .select(F.col("d").alias("node")).distinct()
               .join(visited.select("node"), "node", "left_anti")
               .withColumn("dist", F.lit(depth))
               .localCheckpoint(storageLevel=lvl))
        if nxt.count() == 0:
            return visited
        visited = (visited.union(nxt)
                   .localCheckpoint(storageLevel=lvl))
        frontier = nxt

    # max_depth rounds ran and the last frontier was non-empty: only
    # legal if it has no unvisited neighbors left
    more = (frontier.join(sym, frontier["node"] == sym["s"])
            .select(F.col("d").alias("node")).distinct()
            .join(visited.select("node"), "node", "left_anti"))
    if more.count() > 0:
        raise DepthExhausted(
            f"bfs_distances: frontier still growing after "
            f"max_depth={max_depth} rounds")
    return visited
