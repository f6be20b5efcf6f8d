"""The one cluster-assignment path (connected_components.assign_clusters):
string ids ride hashed longs, and an id-hash collision on an
edge-touched id raises instead of silently merging two clusters."""

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
