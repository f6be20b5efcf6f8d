"""The repository's benchmark: one workload per call, end to end.

    python3 perfbench/run.py --workload text_dedup_skewed --seed 1 \\
        --seconds 6 --trace 0

Run it from the root of a checkout. It starts one Spark driver on
local[<cores>] (cores = the CPUs this process may use; AQE off, a 4 GB
pre-touched driver heap, the C1 JIT only), writes the workload's input
to parquet under perfbench/.work/ while the JVM starts (image_dedup: on
the session's cores once it is up), runs one warm-up cycle of the
workload's operations, then repeats whole cycles for ``--seconds`` (at
least the workload's ``min_cycles``) and checks every result.
Every file Spark, the JVM and Python write goes under perfbench/.work/.

An operation is one call of a public entry point up to a materialized
result: ``image_cluster_assignments``, ``cluster_assignments`` or
``video_cluster_assignments`` over the whole table, or one sketch query
class (see workloads.py). A cycle is one operation on the dedup
workloads and the whole query mix on ``sketch_queries``.

Output: one JSON line describing the run (commit, seed, versions, sizes,
settings, load average at start, the CPU steal share while timing,
per-operation times and every quality figure), then, as the last line,
the result:
``{"correct", "attempted", "failed", "metrics"}``. An operation fails when
it raises or its answer is below the workload's correctness floor.

--trace 0 reports the end-to-end metrics, in CPU seconds of the driver
process and of the Spark JVM with every process it started (the Python
workers):
  job_cpu_s       median CPU seconds of a whole cycle, over the cycles
                  whose operations all passed their checks
  rows_per_cpu_s  input rows of a cycle / job_cpu_s (the table rows the
                  query mix scans on sketch_queries)
  setup_s         CPU seconds of the set-up: session and worker-daemon
                  start, input synthesis (plus the exact answers for
                  sketch_queries), warm-up cycle; once per run, as one run
                  starts one Spark session
CPU time leaves out steal, the time the host of a virtual machine runs
something else on its CPUs. On a shared 4-core host that moves wall time
far more than CPU time from one run to the next: of ten text_dedup_skewed
runs, the one at 10% steal took 35% more wall time per cycle than the
median run and 16% more CPU time, and on each workload the middle half
of ten runs' wall set-up times spread 1.3-2.4 times as wide as their CPU
set-up times. The wall times (job_s, rows_per_s, set-up) go on the
description line.

--trace 1 reports per-layer metrics instead: the session runs with
Spark's event log on, and untraced and traced cycles alternate. A traced
cycle swaps each layer function of the workload for a wrapper that opens
a span (one Spark job group), calls it and materializes its output (see
tracing.py). Task metrics are attributed to layers from the event log
after the session stops; spans go to perfbench/.work/<workload>/
spans.json. ``trace_overhead_frac`` is the median traced cycle over the
median untraced one, minus 1; both run with the event log on.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / "perfbench" / ".work"
# pre-touched at JVM start (-Xms). Half of spark_session's 8g default
# leaves room on a 15 GB box shared with other work; at 4g the workloads
# spill nothing and spend under 2% of task time in GC (under 1% at 8g).
DRIVER_MEMORY = "4g"
# the metrics a --trace 0 run reports, as BENCHMARK.json lists them
END_TO_END = ("job_cpu_s", "rows_per_cpu_s", "setup_s")


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def isolate(work: Path, trace: bool) -> None:
    """Point every scratch location of Spark, the JVM and Python inside
    ``work`` and fix the session settings, before the JVM starts."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # C1 only, where spark_session keeps the JVM's tiered default: a run
    # can afford one warm-up cycle, after which C1 cycles are about level,
    # while tiered ones still fall for ~4 more cycles as C2 compiles
    # (timed cycles after one warm-up on a 4-core box, tiered vs C1:
    # text 6.8, 6.0, 5.0, 4.8 ... 4.5 s vs 5.3, 4.9, 4.8 ... 4.8 s;
    # video 5.7, 4.8, 4.6, 4.2 ... 4.1 s vs 5.0, 5.2, 5.2 ... 4.9 s;
    # sketch_queries 13.0, 13.9, 14.3, 10.9 s vs 10.9, 9.2, 9.5, 8.9 s).
    # Figures are those of a C1-compiled engine: where C2 would settle
    # 8-17% lower, JVM-side work weighs more in them.
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} "
                                       "-XX:-UsePerfData "
                                       "-XX:TieredStopAtLevel=1")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_AQE"] = "false"
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    conf = [f"spark.sql.warehouse.dir={work / 'warehouse'}"]
    if trace:
        (work / "eventlog").mkdir()
        conf += ["spark.eventLog.enabled=true",
                 f"spark.eventLog.dir={(work / 'eventlog').as_uri()}",
                 "spark.eventLog.compress=false",
                 "spark.eventLog.rolling.enabled=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(c)}" for c in conf) + " pyspark-shell"


def _proc_stats() -> dict[int, list[str]]:
    """The fields of /proc/<pid>/stat after the command name, by pid."""
    stats = {}
    for stat in Path("/proc").glob("[0-9]*/stat"):
        try:
            stats[int(stat.parent.name)] = (
                stat.read_text().rsplit(")", 1)[1].split())
        except OSError:
            continue
    return stats


def _descendants(pid: int, stats: dict | None = None) -> list[int]:
    stats = _proc_stats() if stats is None else stats
    kids: dict[int, list[int]] = {}
    for p, fields in stats.items():
        kids.setdefault(int(fields[1]), []).append(p)
    out, todo = [], [pid]
    while todo:
        found = kids.get(todo.pop(), [])
        out += found
        todo += found
    return out


def cpu_s(pid: int) -> float:
    """CPU seconds used so far by this process and by ``pid`` with its
    descendants, children they reaped included. Time in which the host
    ran another guest on this machine's CPUs (steal) is not counted."""
    stats = _proc_stats()
    ticks = sum(int(x) for p in [pid, *_descendants(pid, stats)]
                if p in stats for x in stats[p][11:15])
    return time.process_time() + ticks / os.sysconf("SC_CLK_TCK")


def stop_session(spark) -> None:
    """Stop the SparkContext, then the JVM and the Python worker daemon it
    started, and wait until each process has exited."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = gateway.proc
    spawned = _descendants(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()     # the JVM exits on end of input
    proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while True:
        alive = [p for p in spawned if Path(f"/proc/{p}").exists()]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                os.kill(p, signal.SIGKILL)
        time.sleep(0.1)


def timed(fn, *args) -> float:
    t0 = time.perf_counter()
    fn(*args)
    return time.perf_counter() - t0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine so far: the share of steal
    over a stretch is the time a virtual machine's host ran something
    else while this one had work."""
    fields = [int(x) for x in Path("/proc/stat").read_text().split()[1:11]]
    return fields[7], sum(fields)


def commit() -> str:
    if not (ROOT / ".git").exists():
        return "unknown"
    res = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                         capture_output=True, text=True)
    return res.stdout.strip() or "unknown"


def cycle(wl, spark, tracer=None) -> list:
    return [wl.op(spark, i, tracer) for i in range(wl.cycle_len)]


def measure(wl, spark, seconds: float, tracer=None):
    """Repeat the workload's operations for ``seconds``.

    Untraced: whole cycles, so that every operation of the mix is timed
    equally often, and at least the workload's ``min_cycles``. Traced: an
    untraced and a traced whole cycle alternate, at least one of each.
    Returns (untraced cycles, each a list of ops; traced ops; traced root
    spans)."""
    plain, traced, roots = [], [], []
    deadline = time.perf_counter() + seconds
    if tracer is None:
        while len(plain) < wl.min_cycles or time.perf_counter() < deadline:
            plain.append(cycle(wl, spark))
        return plain, traced, roots
    while not roots or time.perf_counter() < deadline:
        plain.append(cycle(wl, spark))
        with tracer.run(f"rep{len(roots)}") as root, \
                tracer.layers(wl.layer_plan):
            traced += cycle(wl, spark, tracer)
        roots.append(root)
    return plain, traced, roots


def layer_report(wl, tracer, roots, work: Path, cores: int) -> dict:
    from tracing import LAYER_METRICS, LAYERS, layer_metrics, \
        parse_event_log
    from workloads import INPUT
    logs = list((work / "eventlog").iterdir())
    with open(logs[0]) as f:
        groups = parse_event_log(f)
    per_rep = []
    for root in roots:
        spans = [s for s in tracer.spans if s.run_id == root.run_id]
        m = layer_metrics(spans, groups, cores)
        for layer, src in wl.rows_in.items():
            m[layer]["rows_in"] = (wl.input_rows if src == INPUT
                                   else m[src]["rows_out"])
        band_events = tracer.counters.get((root.run_id,
                                           "visual.band_events"), 0)
        flat = {f"{layer}.{k}": m[layer][k]
                for layer in LAYERS for k in LAYER_METRICS}

        def ratio(a, b):
            return a / b if b else 0.0
        flat.update({
            "lsh.candidates": m["lsh"]["rows_out"],
            "verify.pass_ratio": ratio(m["verify"]["rows_out"],
                                       m["lsh"]["rows_out"]),
            "visual.band_events": band_events,
            "visual.hamming_pass_ratio": ratio(m["visual"]["rows_out"],
                                               band_events),
            "vote.pass_ratio": ratio(m["vote"]["rows_out"],
                                     m["vote"]["rows_in"]),
            "cc.rounds": m["cc"]["cc_rounds"],
            "cc.vertices": m["cc"]["rows_out"],
        })
        per_rep.append(flat)
    units = {f"{layer}.{k}": u for layer in LAYERS
             for k, u in LAYER_METRICS.items()}
    return {k: {"value": statistics.median(r[k] for r in per_rep),
                "unit": units.get(k, "frac" if "ratio" in k else "count")}
            for k in per_rep[0]}


def main(argv=None) -> int:
    sys.path.insert(0, str(Path(__file__).resolve().parent))
    from workloads import WORKLOADS
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "datasketches_rust_spark" / "__init__.py").is_file():
        print(f"perfbench: no datasketches_rust_spark package in {ROOT}; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2

    work = WORK / args.workload
    shutil.rmtree(work, ignore_errors=True)
    isolate(work, bool(args.trace))
    sys.path.insert(0, str(ROOT))
    cores = len(os.sched_getaffinity(0))
    loadavg = os.getloadavg()
    wl = WORKLOADS[args.workload]()

    t0, c0 = time.perf_counter(), time.process_time()
    # the engine modules every workload uses, imported before the
    # synthesis thread starts so that no module is imported by two threads
    from datasketches_rust_spark import oracle, queries  # noqa: F401
    from datasketches_rust_spark.config import spark_session
    from datasketches_rust_spark.sources import (  # noqa: F401
        documents, images, video)
    # input synthesis is driver-side Python: it runs in a thread while the
    # JVM and the worker daemon start
    pool = ThreadPoolExecutor(max_workers=1)
    synth = pool.submit(timed, wl.synthesize, work / "input", args.seed,
                        cores)
    pool.shutdown(wait=False)
    spark = spark_session("perfbench", cpus=cores, shuffle_partitions=cores)
    try:
        # first Python task: starts the worker daemon
        spark.range(cores, numPartitions=cores).mapInPandas(
            lambda it: it, schema="id long").count()
        jvm = spark.sparkContext._gateway.proc.pid
        wl.cpu_clock = lambda: cpu_s(jvm)
        session_s = time.perf_counter() - t0
        synth_s = synth.result()
        t1 = time.perf_counter()
        wl.load(spark)
        load_s = time.perf_counter() - t1
        t1 = time.perf_counter()
        cycle(wl, spark)
        warmup_s = time.perf_counter() - t1
        setup_wall_s = time.perf_counter() - t0
        setup_s = wl.cpu_clock() - c0
        tracer = None
        if args.trace:
            from tracing import Tracer
            tracer = Tracer(spark.sparkContext)
            # the wrapped layers run plans of their own: warm those too
            with tracer.run("warmup"), tracer.layers(wl.layer_plan):
                cycle(wl, spark, tracer)
        steal0 = cpu_ticks()
        cycles, traced, roots = measure(wl, spark, args.seconds, tracer)
        steal1 = cpu_ticks()
        aqe = spark.conf.get("spark.sql.adaptive.enabled")
    finally:
        stop_session(spark)

    ops = [op for c in cycles for op in c] + traced
    failed = sum(not op.ok for op in ops)
    wall_s = [sum(op.seconds for op in c) for c in cycles]
    cpu = [sum(op.cpu_seconds for op in c) for c in cycles]
    good = [i for i, c in enumerate(cycles) if all(op.ok for op in c)]
    if not good:
        print("perfbench: no cycle passed its checks", file=sys.stderr)
        return 1
    cpu_q = quartiles([cpu[i] for i in good])
    wall_q = quartiles([wall_s[i] for i in good])
    quality = {}
    for key in ("pair_recall", "pair_precision"):
        vals = [op.quality[key] for op in ops if key in op.quality]
        if vals:
            quality[key] = {"value": min(vals), "unit": "frac"}
    errs = [op.quality["answer_err"] for op in ops
            if "answer_err" in op.quality]
    if errs:
        quality["answer_err_max"] = {"value": max(errs), "unit": "frac"}

    import numpy
    import pyspark
    describe = {
        "workload": args.workload, "seed": args.seed, "commit": commit(),
        "trace": args.trace, "seconds": args.seconds, "cores": cores,
        "master": f"local[{cores}]", "driver_memory": DRIVER_MEMORY,
        "aqe": aqe, "loadavg_start": loadavg,
        "steal_frac": ((steal1[0] - steal0[0])
                       / max(1, steal1[1] - steal0[1])),
        "spark": pyspark.__version__, "python": platform.python_version(),
        "numpy": numpy.__version__, **wl.describe(),
        "cycles": len(cycles), "traced_ops": len(traced),
        "end_to_end": {
            "job_cpu_s": {"value": cpu_q[1], "q1": cpu_q[0], "q3": cpu_q[2],
                          "unit": "s", "cycles": cpu},
            "rows_per_cpu_s": {"value": wl.input_rows / cpu_q[1],
                               "unit": "1/s"},
            "job_s": {"value": wall_q[1], "q1": wall_q[0], "q3": wall_q[2],
                      "unit": "s", "cycles": wall_s,
                      "ops": [[op.seconds for op in c] for c in cycles]},
            "rows_per_s": {"value": wl.input_rows / wall_q[1], "unit": "1/s"},
            "setup_s": {"value": setup_s, "wall_s": setup_wall_s,
                        "session_s": session_s,
                        "synth_s": synth_s, "load_s": load_s,
                        "warmup_s": warmup_s,
                        "unit": "s"},
            "ops_failed_frac": {"value": failed / len(ops), "unit": "frac"},
            **quality},
    }
    if args.trace:
        tracer.write(work / "spans.json")
        metrics = layer_report(wl, tracer, roots, work, cores)
        traced_s = statistics.median(r.end - r.start for r in roots)
        metrics["trace_overhead_frac"] = {
            "value": traced_s / statistics.median(wall_s) - 1,
            "unit": "frac"}
    else:
        metrics = {k: {"value": describe["end_to_end"][k]["value"],
                       "unit": describe["end_to_end"][k]["unit"]}
                   for k in END_TO_END}
    print(json.dumps({"perfbench": describe}))
    print(json.dumps({"correct": failed == 0, "attempted": len(ops),
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
