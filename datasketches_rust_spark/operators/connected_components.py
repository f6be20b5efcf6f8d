"""Connected components over the candidate-pair edge DataFrame — the
genuinely iterative piece of the pipeline (SURVEY.md §4 "genuinely hard").

``component_labels`` is the one entry of the pipelines. It runs ONE job
that checkpoints the edges and counts them. An edge set of at most
``DRIVER_EDGES`` then finishes on the driver, as a global sketch does
(``update* -> merge -> estimate()``): a second job fetches the
checkpoint as Arrow, a vectorized numpy union-find labels the vertices,
and the labels come back as a LocalTableScan, which starts no job when
read and which the joins downstream broadcast. Two jobs per call,
whatever the graph's diameter. Only a larger edge set pays the
distributed rounds below, one job each.

``connected_components`` — the distributed rounds (Kiveris et al.,
*Connected Components in MapReduce and Beyond*, SoCC 2014): minimum-label
propagation with pointer-doubling fallback. Every vertex starts labeled
with its own id; each round every vertex takes the min of its label and
its neighbors' labels; converged when no label changes. Rounds needed =
diameter of the largest component — for dedup graphs usually 2-3
(near-dup clusters are dense, and the LSH hot-bucket star degrade keeps
even giant clusters at diameter <= 4). Each round is ONE Spark job: the
min-label aggregation also carries the previous label, so convergence
detection falls out of the same aggregate.

Chain-shaped components (pairwise-only similarity a~b~c~..., which do
occur in crawl dedup) would need diameter-many rounds, so after
``shortcut_after`` plain rounds every subsequent round also propagates
label-of-label (pointer doubling / "shortcutting", the same halving step
as the MapReduce large-star contraction of Kiveris et al.): reach doubles
per round, giving O(log diameter) convergence without paying the extra
join on the easy (typical) inputs. If max_iter is exhausted with labels
still changing, this RAISES instead of silently returning a wrong
clustering.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Observation, Window, functions as F
from pyspark.sql.types import StructField, StructType

# edge sets up to this many finish on the driver: 2^22 pairs of longs are
# 64 MB of Arrow there, and min_labels over them takes 6-8 CPU-s and
# ~650 MB of numpy (4-core VM: 2^22 random edges 5.8 s, a shuffled
# 2^22-vertex path 7.6 s)
DRIVER_EDGES = 1 << 22


class ConvergenceError(RuntimeError):
    """Label propagation exhausted max_iter with labels still changing."""


def connected_components(edges: DataFrame, id_col: str = "id",
                         max_iter: int = 50,
                         shortcut_after: int = 6) -> DataFrame:
    """DataFrame[id, cluster_id] — cluster_id = min vertex id reachable.

    edges: DataFrame[id_a, id_b]. Only edge-touched nodes are labeled —
    the scale-critical case: singletons (the vast majority at 10^12
    rows) never enter the iteration; use ``assign_clusters`` to fold
    them back in with a single join.
    """
    from pyspark.storagelevel import StorageLevel
    from datasketches_rust_spark.cache import release_tracked

    sym = symmetric_edges(edges)
    # serialized storage (pyspark's MEMORY_AND_DISK is the serialized
    # variant; the JVM localCheckpoint default is the DESER one): the
    # checkpoint is re-read 1-2x per round (own + msgs legs), and
    # deserialized UnsafeRow caching costs ~80 bytes/row vs ~25 serialized
    # — on a DRAM-bound box the re-reads are the label-propagation
    # bottleneck, so trade decode CPU for bytes
    sym = sym.localCheckpoint(
        storageLevel=StorageLevel.MEMORY_AND_DISK)
    # the (eager) checkpoint above materialized everything upstream —
    # signature/fingerprint caches registered by producers are now
    # consumable garbage, as is any previous call's label table
    release_tracked()

    # initial labels stay lazy: identity labels that round 1 reads off
    # the checkpointed edge set directly, so materializing them separately
    # would only add a job and its fixed cost (an empty 4-task job on a
    # 4-core VM: ~0.1 CPU-s in the JVM, 0.01 in Python workers whose
    # heap the daemon froze, 0.17-0.18 before it did)
    labels = None

    prev = None
    converged = False
    for it in range(max_iter):
        # One Spark job per round: the min-label aggregation ALSO carries
        # each vertex's previous label (tagged union leg), so convergence
        # ("did any label change?") falls out of the same aggregate that
        # materializes the persisted next-round labels — no separate
        # join+count job.
        if labels is None:
            # round 1 with identity labels: label(v)=v, so the message a
            # vertex d receives from neighbor s is just s — no distinct
            # (the groupBy dedups) and no join: ONE shuffle instead of
            # three (distinct + join + groupBy)
            own = sym.select(F.col("s").alias("v"),
                             F.col("s").alias("label"),
                             F.lit(1).alias("__own"))
            msgs = sym.select(F.col("d").alias("v"),
                              F.col("s").alias("label"),
                              F.lit(0).alias("__own"))
        else:
            own = labels.select("v", "label", F.lit(1).alias("__own"))
            msgs = (sym.join(labels, sym.s == labels.v)
                    .select(F.col("d").alias("v"), "label",
                            F.lit(0).alias("__own")))
        legs = own.unionByName(msgs)
        if it >= shortcut_after and labels is not None:
            # pointer doubling: v also adopts label(label(v)). label values
            # are themselves vertex ids present in `labels`, so this is a
            # self-join keyed on the label — reach doubles every round.
            la, lb = labels.alias("__la"), labels.alias("__lb")
            jump = (la.join(lb, F.col("__la.label") == F.col("__lb.v"))
                    .select(F.col("__la.v").alias("v"),
                            F.col("__lb.label").alias("label"),
                            F.lit(0).alias("__own")))
            legs = legs.unionByName(jump)
        merged = (legs.groupBy("v")
                  .agg(F.min("label").alias("label"),
                       F.min(F.when(F.col("__own") == 1, F.col("label"))
                             ).alias("__prev")))
        merged = merged.persist(StorageLevel.MEMORY_AND_DISK)
        changed = merged.agg(F.sum(
            (F.col("label") != F.col("__prev")).cast("long"))).first()[0]
        if prev is not None:
            prev.unpersist(False)
        prev = merged
        labels = merged.select("v", "label")
        if it % 8 == 7:
            labels = labels.localCheckpoint(  # bound plan depth
                storageLevel=StorageLevel.MEMORY_AND_DISK)
        if not changed:
            converged = True
            break

    if not converged:
        if prev is not None:
            prev.unpersist(False)
        raise ConvergenceError(
            f"connected_components did not converge in {max_iter} rounds "
            f"(labels still changing); raise max_iter — with pointer "
            f"doubling after round {shortcut_after} this takes a graph of "
            f"diameter > ~2^{max_iter - shortcut_after}")
    if prev is not None:
        # the caller consumes `labels` lazily; register the backing cache
        # for release at the next pipeline/CC invocation instead of
        # leaking it for the session lifetime
        from datasketches_rust_spark.cache import register
        register(prev)

    return labels.select(F.col("v").alias(id_col),
                         F.col("label").alias("cluster_id"))


def component_labels(edges: DataFrame, id_col: str = "id") -> DataFrame:
    """DataFrame[id_col, cluster_id] of every edge-touched vertex —
    ``connected_components``' output — in two Spark jobs when the edge
    set fits the driver (module docstring).

    edges: DataFrame[id_a, id_b]. A null endpoint connects nothing: the
    other endpoint is labeled as on a self-loop, and a null id gets no
    label."""
    from pyspark.storagelevel import StorageLevel
    from datasketches_rust_spark.cache import release_tracked

    a, b = F.col("id_a"), F.col("id_b")
    seen = Observation("component_labels")
    # one job checkpoints the edges (serialized, as connected_components
    # does) and counts them on the way
    ckpt = (edges.select(F.coalesce(a, b).alias("id_a"),
                         F.coalesce(b, a).alias("id_b"))
            .where(a.isNotNull())
            .observe(seen, F.count(F.lit(1)).alias("n"))
            .localCheckpoint(storageLevel=StorageLevel.MEMORY_AND_DISK))
    # everything upstream is materialized: producers' caches are garbage
    release_tracked()
    if seen.get["n"] > DRIVER_EDGES:
        return connected_components(ckpt, id_col)
    table = ckpt.toArrow()
    ids, labels = min_labels(table.column("id_a").to_numpy(),
                             table.column("id_b").to_numpy())
    kind = ckpt.schema["id_a"].dataType
    return edges.sparkSession.createDataFrame(
        pa.table({id_col: ids, "cluster_id": labels}),
        StructType([StructField(id_col, kind),
                    StructField("cluster_id", kind)]))


def min_labels(a: np.ndarray, b: np.ndarray
               ) -> tuple[np.ndarray, np.ndarray]:
    """(vertices, labels): the sorted distinct ids of the edge list
    ``(a[i], b[i])`` and each one's component min.

    Vectorized union-find (Shiloach–Vishkin): every round hooks each
    root onto the smallest root it shares an edge with, then pointer
    jumping points every vertex at its root again. Hooks only go to a
    smaller index, so no cycle forms and a root is its tree's min; a
    round merges the larger root of every edge still between two trees,
    so the loop ends. Measured at 2^20 edges: 4 rounds on a random
    graph, 12 on a path whose ids are shuffled along it."""
    verts, ends = np.unique(np.concatenate([a, b]), return_inverse=True)
    u, v = ends[:len(a)], ends[len(a):]
    parent = np.arange(len(verts))
    while True:
        pu, pv = parent[u], parent[v]
        apart = pu != pv
        if not apart.any():
            return verts, verts[parent]
        np.minimum.at(parent, np.maximum(pu, pv)[apart],
                      np.minimum(pu, pv)[apart])
        while True:
            up = parent[parent]
            if np.array_equal(up, parent):
                break
            parent = up


def symmetric_edges(edges: DataFrame) -> DataFrame:
    """DataFrame[s, d] — both directions of every (id_a, id_b) edge from
    ONE pass over ``edges``; the one symmetrization of the graph
    operators (CC, BFS, PageRank, k-core). A union of the two directions
    would run the edge plan once per union leg: exchange reuse shares
    only the shuffles, so everything above the last exchange (a Python
    verify UDF, say) would be evaluated twice."""
    s, d = F.col("id_a"), F.col("id_b")
    return edges.select(F.inline(F.array(
        F.struct(s.alias("s"), d.alias("d")),
        F.struct(d.alias("s"), s.alias("d")))))


def assign_clusters(items: DataFrame, edges_fn, id_col: str = "id"
                    ) -> DataFrame:
    """DataFrame[id_col, cluster_id] for EVERY row of ``items`` —
    cluster_id = min member id; the one cluster-assignment path of the
    modality pipelines.

    ``edges_fn(df, id_col)`` returns DataFrame[id_a, id_b] over the
    LONG column ``df[id_col]``. ``component_labels`` labels only the
    edge-touched subgraph (dup candidates), then one left join assigns
    singletons their own id, so the labeling stays proportional to the
    number of duplicate candidates, not the table size. String ids take
    assign_clusters_string_ids."""
    if dict(items.dtypes)[id_col] == "string":
        return assign_clusters_string_ids(items, edges_fn, id_col)
    cc = component_labels(edges_fn(items, id_col), id_col)
    return _fold_in_singletons(items, cc, id_col)


def _id_hash(id_col: str) -> Column:
    """The long that stands in for a string id through the
    shuffle-heavy middle of every pipeline."""
    return F.xxhash64(F.col(id_col))


def assign_clusters_string_ids(items: DataFrame, edges_fn,
                               id_col: str) -> DataFrame:
    """assign_clusters for STRING ids: the shuffle-heavy middle (band
    self-joins, verify joins, component labels) rides 8-byte
    ``__lid = _id_hash(id)`` longs instead of variable-length UTF8, and
    the min-STRING representative is recovered at the end with one
    groupBy + join over only the edge-touched vertices (measured: the
    string rows inflated shuffle-stage task time ~1.5x at 8 cores).

    An edge-touched ``__lid`` shared by two string ids would silently
    merge two clusters (expected ~n^2/2^65 times over n ids: ~0.03 at
    10^9, ~3 at 10^10). The executors raise instead, when the output is
    evaluated: Spark's runtime exception with ``IdHashCollisionError``,
    the ``__lid`` and two of its ids in the message."""
    lid = _id_hash(id_col)
    cc = component_labels(
        edges_fn(items.withColumn("__lid", lid), "__lid"), "__lid")
    idmap = items.select(F.col(id_col), lid.alias("__lid"))
    members = (cc.join(idmap, "__lid")
               .select(F.col(id_col), F.col("cluster_id").alias("__cl")))
    reps = members.groupBy("__cl").agg(F.min(id_col).alias("cluster_id"))
    # collision check: ids sharing a __lid share a __cl too, so a window
    # keyed on (__cl, __lid) runs in the partitions a sort-merge join
    # below already shuffled on __cl (a local sort, no exchange; only a
    # broadcast of a small reps side leaves it one small exchange), and
    # the raise rides the projection the output evaluates anyway: no job
    lo, hi = F.col("__lo"), F.col("__hi")
    collision = F.raise_error(F.concat(
        F.lit("IdHashCollisionError: __lid "), lid.cast("string"),
        F.lit(" is the hash of both "), lo, F.lit(" and "), hi))
    by_lid = Window.partitionBy("__cl", lid)
    assigned = (members.join(reps, "__cl")
                .withColumns({"__lo": F.min(id_col).over(by_lid),
                              "__hi": F.max(id_col).over(by_lid)})
                .select(F.when(lo != hi, collision)
                        .otherwise(F.col(id_col)).alias(id_col),
                        "cluster_id"))
    return _fold_in_singletons(items, assigned, id_col)


def _fold_in_singletons(items: DataFrame, assigned: DataFrame,
                        id_col: str) -> DataFrame:
    """Every id of ``items`` with its cluster_id from ``assigned``
    (edge-touched ids only); the rest are their own cluster."""
    return (items.select(F.col(id_col))
            .join(assigned, id_col, "left")
            .withColumn("cluster_id",
                        F.coalesce(F.col("cluster_id"), F.col(id_col)))
            .select(id_col, "cluster_id"))
