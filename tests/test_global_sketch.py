"""Global sketches finished on the driver: ``agg.sketch_blob`` is one
Spark job whose partial blobs fold on the driver, at most
``agg.DRIVER_FAN_IN`` of them; the query classes built on it return a
local result; tables infer their schema once per version."""

import math
import uuid

import pandas as pd
import pyspark.sql.functions as F
import pytest

from datasketches_rust_spark import agg
from datasketches_rust_spark import queries as Q
from datasketches_rust_spark.queries import _common
from datasketches_rust_spark.sketches.hll import HllSketch


def _jobs(spark, fn):
    """(``fn()``, the stage count of every Spark job it started)."""
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
    return out, [len(tracker.getJobInfo(j).stageIds)
                 for j in sorted(tracker.getJobIdsForGroup(group))]


_FAN_IN_KW = {"bloom": {"num_bits": 1 << 12, "num_hashes": 5},
              "countmin": {"num_hashes": 3, "num_buckets": 256},
              "hll": {"lg_k": 10},
              "theta": {"lg_k": 12}}


@pytest.mark.parametrize("kind", sorted(_FAN_IN_KW))
def test_sketch_blob_bounds_driver_fan_in(spark, monkeypatch, kind):
    """Over 100 partitions, at most DRIVER_FAN_IN blobs reach the driver,
    and the sketch is the one-partition build's, byte for byte (theta in
    exact mode; an HLL union drops HIP, so the one-partition HLL is
    compared in its merged form)."""
    df = spark.range(0, 6000, numPartitions=100) \
        .select((F.col("id") * 7 % 2500).alias("v"))
    kw = _FAN_IN_KW[kind]
    one = agg.sketch_blob(df.coalesce(1), "v", kind, **kw)
    if kind == "hll":
        one = bytes(HllSketch(**kw).union(HllSketch.deserialize(one))
                    .serialize())
    collected = []
    frame = type(df)
    collect = frame.collect

    def spy(self):
        rows = collect(self)
        collected.append(len(rows))
        return rows

    monkeypatch.setattr(frame, "collect", spy)
    got = agg.sketch_blob(df, "v", kind, **kw)
    assert len(collected) == 1
    assert 0 < collected[0] <= agg.DRIVER_FAN_IN
    assert got == one


def test_sketch_blob_empty_input(spark):
    df = spark.range(0).select(F.col("id").alias("v"))
    assert agg.sketch_blob(df, "v", "theta", lg_k=12) == \
        bytes(agg.sketch_kind("theta", lg_k=12).build().serialize())


# sketches each driver-finished class builds
_SKETCHES = {"hll_distinct_orders": 1, "cpc_distinct_orders": 1,
             "freq_top_event_types": 1, "tdigest_price_quantiles": 1,
             "tdigest_price_stats": 1, "bloom_stats": 1,
             "theta_union_custkeys": 2, "theta_intersect_custkeys": 2,
             "theta_anotb_custkeys": 2}


@pytest.mark.parametrize("name", sorted(_SKETCHES))
def test_driver_finished_class_runs_one_job_per_sketch(spark, sf_correct_dir,
                                                       name):
    """With the table schemas cached, a class runs one single-stage job
    per sketch it builds, and reading its local result runs none."""
    want = Q.QUERIES[name](spark, sf_correct_dir).collect()
    df, jobs = _jobs(spark, lambda: Q.QUERIES[name](spark, sf_correct_dir))
    assert jobs == [1] * _SKETCHES[name]
    rows, jobs = _jobs(spark, df.collect)
    assert jobs == []
    assert rows == want
    assert "LocalTableScan" in \
        df._jdf.queryExecution().executedPlan().toString()


def test_driver_finished_classes_on_empty_tables(spark, tmp_path):
    """An empty table answers as SQL's global aggregates do: one row, a
    zero count and null extremes and quantiles."""
    pd.DataFrame({"l_orderkey": pd.Series([], dtype="int64"),
                  "l_extendedprice": pd.Series([], dtype="float64")}) \
        .to_parquet(tmp_path / "lineitem.parquet")
    sf = str(tmp_path)
    assert [tuple(r) for r in Q.q_hll_distinct_orders(spark, sf)
            .collect()] == [(0.0,)]
    assert [tuple(r) for r in Q.q_tdigest_price_stats(spark, sf)
            .collect()] == [(None, None, 0)]
    assert [tuple(r) for r in Q.q_tdigest_price_quantiles(spark, sf)
            .collect()] == [(None, None, None)]


def test_round_half_up_matches_spark_round(spark):
    xs = [0.5, 1.5, 2.5, -0.5, -2.5, 14759.5, 0.49999999999999994,
          1e16 + 2, 123.4999, -7.5000001, 0.0, float("inf")]
    want = [r[0] for r in spark.createDataFrame(
        [(x,) for x in xs], "x double").select(F.round("x", 0)).collect()]
    assert [_common._round_half_up(x) for x in xs] == want
    assert math.isnan(_common._round_half_up(float("nan")))


def test_table_schema_inferred_once_per_version(spark, tmp_path):
    """A second read of an unchanged table starts no job; a table
    rewritten at the same path reads with its new schema."""
    table = tmp_path / "t.parquet"
    table.mkdir()
    pd.DataFrame({"a": [1, 2]}).to_parquet(table / "part-0.parquet")
    sf = str(tmp_path)
    df, jobs = _jobs(spark, lambda: _common._t(spark, sf, "t"))
    assert df.columns == ["a"] and jobs
    df, jobs = _jobs(spark, lambda: _common._t(spark, sf, "t"))
    assert df.columns == ["a"] and jobs == []
    pd.DataFrame({"b": ["x"], "c": [1.5]}).to_parquet(
        table / "part-0.parquet")
    df = _common._t(spark, sf, "t")
    assert df.columns == ["b", "c"]
    assert [tuple(r) for r in df.collect()] == [("x", 1.5)]
    assert _common._table_version("s3a://bucket/t.parquet") is None
