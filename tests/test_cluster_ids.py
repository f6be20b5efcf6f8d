"""The one cluster-assignment path (connected_components.assign_clusters):
components finish on the driver in two Spark jobs and equal the
distributed rounds, string ids ride hashed longs, and an id-hash
collision on an edge-touched id raises instead of silently merging two
clusters."""

import uuid

import numpy as np
import pyarrow as pa
import pyspark.sql.functions as F
import pytest
from pyspark.errors import SparkRuntimeException

from datasketches_rust_spark.operators import connected_components
from datasketches_rust_spark.pipeline_video import video_cluster_assignments
from datasketches_rust_spark.sources.video import video_spark_df


@pytest.fixture(scope="module")
def videos(spark):
    return video_spark_df(spark, 200, seed=5)[0]


def _clusters(rows):
    """cluster_id -> member ids."""
    members = {}
    for r in rows:
        members.setdefault(r.cluster_id, set()).add(r.video_id)
    return members


def test_string_ids_match_long_ids(videos):
    """Hashing string ids to longs changes no assignment: the string-id
    run clusters exactly like the same rows re-keyed to long ids, and
    each cluster_id is its min member id."""
    got = _clusters(video_cluster_assignments(videos).collect())
    by_long = _clusters(video_cluster_assignments(videos.withColumn(
        "video_id", F.substring("video_id", 5, 10).cast("long"))).collect())
    want = {frozenset(f"vid_{v:010d}" for v in m) for m in by_long.values()}
    assert {frozenset(m) for m in got.values()} == want
    assert all(cid == min(m) for cid, m in got.items())
    assert sum(map(len, want)) == 200
    assert any(len(m) > 1 for m in want)  # the fixture has dups


def test_id_hash_collision_raises(videos, monkeypatch):
    """An 8-bit id hash puts 200 videos in 256 slots: some edge-touched
    id shares its __lid with another id, which must raise, not merge."""
    monkeypatch.setattr(connected_components, "_id_hash",
                        lambda c: F.pmod(F.xxhash64(F.col(c)), F.lit(256)))
    with pytest.raises(SparkRuntimeException,
                       match=r"IdHashCollisionError: __lid \d+ is the hash "
                             r"of both vid_\d+ and vid_\d+"):
        video_cluster_assignments(videos).collect()


def _labels(df):
    """id -> cluster_id of a (id, cluster_id) frame."""
    return dict(df.collect())


def _jobs(spark, fn):
    """(``fn()``, the name of the first stage of every job it ran)."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    return out, [tracker.getStageInfo(
        tracker.getJobInfo(j).stageIds[0]).name
        for j in sorted(tracker.getJobIdsForGroup(group))]


def _shape_edges():
    """One edge list of every shape, on disjoint id ranges: a random
    graph of ~80 components over 400 vertices (with its own self-loops),
    stars (one centered on its max id), cliques, a chain walked in both
    directions, duplicate edges and self-loops. No vertex is over 5 hops
    from its component's min, so the rounds converge before their
    pointer doubling (whose plans make a doubling round cost seconds)."""
    rng = np.random.default_rng(7)
    edges = [tuple(map(int, e)) for e in rng.integers(0, 10, (300, 2))
             + 10 * rng.integers(0, 40, (300, 1))]
    for c in (1000, 1100):
        edges += [(c, c + k) for k in range(1, 21)]
    edges += [(1299, 1299 - k) for k in range(1, 21)]
    for base in (2000, 2050):
        edges += [(base + i, base + j) for i in range(8)
                  for j in range(i + 1, 8)]
    edges += [(3000 + i + 1, 3000 + i) if i % 2 else
              (3000 + i, 3000 + i + 1) for i in range(4)]
    edges += [(2001, 2000)] * 3 + [(5000, 5000), (5001, 5001), (5002, 5001)]
    return edges


LEGS = pytest.mark.parametrize(
    "driver_edges", [connected_components.DRIVER_EDGES, 0],
    ids=["driver", "rounds"])


@pytest.fixture(scope="module")
def shapes(spark):
    edges = spark.createDataFrame(_shape_edges(), "id_a long, id_b long")
    return edges, _labels(connected_components.connected_components(edges))


@LEGS
def test_component_labels_match_rounds(shapes, driver_edges, monkeypatch):
    """Both legs of component_labels label every shape as the
    distributed rounds do: the driver finish, and the rounds themselves
    when the edge count is over DRIVER_EDGES."""
    monkeypatch.setattr(connected_components, "DRIVER_EDGES", driver_edges)
    edges, want = shapes
    assert _labels(connected_components.component_labels(edges)) == want
    assert want[3004] == 3000 and want[1299] == 1279
    assert want[5000] == 5000 and want[5002] == 5001


def test_component_labels_long_chain(spark):
    """A 2,000-vertex chain finishes on the driver in two jobs, with
    every vertex labeled by the chain's min. The rounds are not run on
    it: the plan of their pointer-doubling rounds grows about fourfold a
    round between lineage cuts, and a 500-vertex path already exhausts
    a 3 GB driver heap."""
    edges = spark.createDataFrame(
        [(i + 1, i) if i % 2 else (i, i + 1) for i in range(1999)],
        "id_a long, id_b long")
    labels, jobs = _jobs(
        spark, lambda: connected_components.component_labels(edges))
    assert len(jobs) == 2, jobs
    assert _labels(labels) == {i: 0 for i in range(2000)}


@LEGS
def test_component_labels_empty_and_null_endpoints(spark, driver_edges,
                                                   monkeypatch):
    """No edge, no label; a null endpoint connects nothing, and its
    other endpoint is labeled as the rounds label it (the rounds also
    emit a row for the null id, which component_labels does not)."""
    monkeypatch.setattr(connected_components, "DRIVER_EDGES", driver_edges)
    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components.component_labels(empty).collect() == []
    edges = spark.createDataFrame(
        [(1, None), (None, 2), (None, None), (3, 4), (4, None)],
        "id_a long, id_b long")
    want = {v: c for v, c in _labels(
        connected_components.connected_components(edges)).items()
        if v is not None}
    got = _labels(connected_components.component_labels(edges))
    assert got == want == {1: 1, 2: 2, 3: 3, 4: 3}


def _reference_labels(a, b):
    """Loop union-find: vertex -> min vertex of its component."""
    parent = {}

    def root(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            x = parent[x]
        return x

    for x, y in zip(a.tolist(), b.tolist()):
        rx, ry = root(x), root(y)
        parent[max(rx, ry)] = min(rx, ry)
    return {v: root(v) for v in parent}


def test_min_labels_numpy():
    """The driver's union-find alone: a 10^5-vertex path whose ids are
    shuffled along it (so the min sits mid-path and every hook round
    has work), and a random graph against a loop union-find."""
    n = 100_000
    rng = np.random.default_rng(11)
    walk = rng.permutation(n) + 5
    verts, labels = connected_components.min_labels(walk[:-1], walk[1:])
    assert np.array_equal(verts, np.arange(5, n + 5))
    assert (labels == 5).all()

    a, b = rng.integers(-500, 500, (2, 700))
    verts, labels = connected_components.min_labels(a, b)
    assert dict(zip(verts.tolist(), labels.tolist())) == \
        _reference_labels(a, b)


@pytest.mark.parametrize("kind", ["long", "string"])
def test_assign_clusters_runs_two_jobs(spark, kind):
    """assign_clusters over an edge plan that starts no job of its own
    (a LocalTableScan and a projection) runs exactly two: the edge
    checkpoint that counts them, and the Arrow fetch the driver labels.
    No label-propagation round (a ``first()`` job) runs, although the
    path 0-1-...-5 would take the rounds six of them."""
    ids = [0, 1, 2, 3, 4, 5, 6, 7]
    nxt = [1, 2, 3, 4, 5, None, None, 6]
    cast = str if kind == "string" else int
    items = spark.createDataFrame(pa.table({
        "id": [cast(i) for i in ids],
        "nxt": [None if j is None else cast(j) for j in nxt]}))

    def edges_fn(df, id_col):
        other = (F.col("nxt") if id_col == "id"
                 else connected_components._id_hash("nxt"))
        return df.where(F.col("nxt").isNotNull()).select(
            F.col(id_col).alias("id_a"), other.alias("id_b"))

    out, jobs = _jobs(spark, lambda: connected_components.assign_clusters(
        items, edges_fn, "id"))
    assert len(jobs) == 2, jobs
    assert not any(j.startswith("first at") for j in jobs), jobs
    want = {cast(i): cast(c) for i, c in
            zip(ids, [0, 0, 0, 0, 0, 0, 6, 6])}
    assert _labels(out) == want
