"""Tests for the benchmark's own helpers.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import subprocess
import sys
import time
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parent.parent
sys.path[:0] = [str(BENCH), str(BENCH.parent)]

from run import cpu_s  # noqa: E402
from tracing import Span, Tracer, layer_metrics, parse_event_log  # noqa: E402
from workloads import answer_error, pair_scores  # noqa: E402


def _job(job_id, group, site="collect at x.py:1"):
    props = {"callSite.short": site}
    if group:
        props["spark.jobGroup.id"] = group
    return {"Event": "SparkListenerJobStart", "Job ID": job_id,
            "Properties": props}


def _stage(stage_id, group):
    return {"Event": "SparkListenerStageSubmitted",
            "Stage Info": {"Stage ID": stage_id, "Stage Attempt ID": 0},
            "Properties": {"spark.jobGroup.id": group} if group else {}}


def _task(stage_id, run_ms, gc_ms=0, written=0, local=0, remote=0,
          spilled=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage_id,
            "Stage Attempt ID": 0,
            "Task Metrics": {
                "Executor Run Time": run_ms, "JVM GC Time": gc_ms,
                "Disk Bytes Spilled": spilled,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": written},
                "Shuffle Read Metrics": {"Local Bytes Read": local,
                                         "Remote Bytes Read": remote}}}


def test_event_log_attribution_from_crafted_events():
    mb = 1 << 20
    events = [
        _job(0, "g1"), _stage(0, "g1"), _task(0, 1500, gc_ms=100,
                                              written=mb),
        _task(0, 500, written=mb),
        _job(1, "g2", "first at /p/operators/connected_components.py:112"),
        _stage(1, "g2"), _task(1, 250, local=mb, remote=mb, spilled=2 * mb),
        _job(2, "g2", "localCheckpoint at NativeMethodAccessorImpl.java:0"),
        _job(3, None), _stage(2, None), _task(2, 9000),
    ]
    groups = parse_event_log(json.dumps(e) for e in events)
    assert set(groups) == {"g1", "g2"}
    g1, g2 = groups["g1"], groups["g2"]
    assert g1["jobs"] == 1 and g1["task_s"] == pytest.approx(2.0)
    assert g1["gc_s"] == pytest.approx(0.1)
    assert g1["shuffle_write_mb"] == pytest.approx(2.0)
    assert g2["jobs"] == 2 and g2["cc_rounds"] == 1
    assert g2["shuffle_read_mb"] == pytest.approx(2.0)
    assert g2["spill_mb"] == pytest.approx(2.0)


def test_layer_metrics_self_time_and_outermost_rows():
    spans = [Span(1, "job", None, "r", 0.0, 10.0),
             Span(2, "verify", 1, "r", 1.0, 9.0, rows_out=5),
             Span(3, "lsh", 2, "r", 2.0, 5.0, rows_out=50),
             Span(4, "visual", 1, "r", 9.0, 10.0, rows_out=7),
             Span(5, "visual", 4, "r", 9.2, 9.6, rows_out=None)]
    groups = {Tracer.group_of(spans[1]): {
        "task_s": 10.0, "gc_s": 0.0, "shuffle_write_mb": 1.0,
        "shuffle_read_mb": 1.0, "spill_mb": 0.0, "jobs": 2, "cc_rounds": 0}}
    m = layer_metrics(spans, groups, cores=2)
    assert m["verify"]["wall_s"] == pytest.approx(8.0)
    assert m["verify"]["self_s"] == pytest.approx(5.0)
    assert m["verify"]["occupancy"] == pytest.approx(1.0)
    assert m["lsh"]["self_s"] == pytest.approx(3.0)
    assert m["lsh"]["jobs"] == 0
    assert m["visual"]["wall_s"] == pytest.approx(1.0)
    assert m["visual"]["self_s"] == pytest.approx(1.0)
    assert m["visual"]["rows_out"] == 7
    assert m["agg"]["wall_s"] == 0


def test_event_log_attribution_on_a_tiny_run(tmp_path):
    from pyspark.sql import SparkSession

    from datasketches_rust_spark.operators.connected_components import \
        connected_components

    logs = tmp_path / "eventlog"
    logs.mkdir()
    spark = (SparkSession.builder.master("local[2]")
             .appName("perfbench-test")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.shuffle.partitions", "2")
             .config("spark.sql.adaptive.enabled", "false")
             .config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", logs.as_uri())
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false")
             .getOrCreate())
    tracer = Tracer(spark.sparkContext)
    try:
        with tracer.run("r0"):
            with tracer.span("lsh") as sp:
                sp.rows_out = len(spark.range(20000, numPartitions=2)
                                  .selectExpr("id % 7 AS k").groupBy("k")
                                  .count().collect())
            with tracer.span("cc"):
                edges = spark.createDataFrame([(1, 2), (2, 3), (5, 6)],
                                              "id_a long, id_b long")
                labels = connected_components(edges).collect()
        spark.range(10).count()     # outside any span: not attributed
    finally:
        spark.stop()
    assert {r["id"]: r["cluster_id"] for r in labels} == {
        1: 1, 2: 1, 3: 1, 5: 5, 6: 5}
    (log,) = logs.iterdir()
    with open(log) as f:
        groups = parse_event_log(f)
    assert len(groups) == 2
    m = layer_metrics(tracer.spans, groups, cores=2)
    assert m["lsh"]["jobs"] == 1 and m["lsh"]["rows_out"] == 7
    assert m["lsh"]["task_s"] > 0 and m["lsh"]["shuffle_write_mb"] > 0
    assert m["lsh"]["shuffle_read_mb"] > 0
    assert m["cc"]["cc_rounds"] >= 2 and m["cc"]["jobs"] > m["cc"]["cc_rounds"]
    assert m["cc"]["task_s"] > 0
    assert all(m[layer]["jobs"] == 0 for layer in m
               if layer not in ("lsh", "cc"))


def test_pair_scores_on_crafted_assignments():
    truth = {"a": 1, "b": 1, "c": 1, "d": 2, "e": 2, "f": 3}
    assert pair_scores(dict(truth), truth) == (1.0, 1.0)
    # c split off: a-c and b-c are lost, no false pair
    split = {**truth, "c": 9}
    assert pair_scores(split, truth) == (pytest.approx(2 / 4), 1.0)
    # d, e and f merged into one cluster: 2 false pairs of 3 predicted
    merged = {**truth, "f": 2}
    assert pair_scores(merged, truth) == (1.0, pytest.approx(4 / 6))
    missing = {k: v for k, v in truth.items() if k != "f"}
    assert pair_scores(missing, truth) == (0.0, 0.0)


def test_answer_error_matches_rows_on_text_columns():
    want = [{"item": "x", "est": 10}, {"item": "y", "est": 20}]
    assert answer_error([{"item": "y", "est": 20}, {"item": "x", "est": 10}],
                        want) == 0.0
    assert answer_error([{"item": "x", "est": 11}, {"item": "y", "est": 20}],
                        want) == pytest.approx(0.1)
    assert answer_error([{"item": "z", "est": 10}, {"item": "y", "est": 20}],
                        want) == float("inf")
    assert answer_error([{"item": "x", "est": 10}], want) == float("inf")


def test_cpu_s_counts_live_and_reaped_descendants():
    # burns 0.3 CPU seconds, says so, then waits for the end of its input
    burn = ("import sys, time\n"
            "t = time.process_time()\n"
            "while time.process_time() - t < 0.3: pass\n"
            "print('ready', flush=True)\n"
            "sys.stdin.read()\n")
    # one grandchild runs to its end and is reaped, one stays alive
    child_code = ("import subprocess, sys\n"
                  f"burn = {burn!r}\n"
                  "subprocess.run([sys.executable, '-c', burn],\n"
                  "               stdin=subprocess.DEVNULL,\n"
                  "               stdout=subprocess.DEVNULL)\n"
                  "live = subprocess.Popen([sys.executable, '-c', burn],\n"
                  "                        stdin=subprocess.PIPE,\n"
                  "                        stdout=subprocess.PIPE)\n"
                  "live.stdout.readline()\n"
                  "print('ready', flush=True)\n"
                  "sys.stdin.read()\n"
                  "live.stdin.close()\n"
                  "live.wait()\n")
    child = subprocess.Popen([sys.executable, "-c", child_code],
                             stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                             text=True)
    try:
        assert child.stdout.readline() == "ready\n"
        own = time.process_time()
        assert cpu_s(child.pid) - own >= 0.55
    finally:
        child.stdin.close()
        child.wait(timeout=60)
    assert child.returncode == 0
