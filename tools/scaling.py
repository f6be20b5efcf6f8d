"""One scaling harness for the dedup pipeline: how its cost moves going
N -> 4N cores or N -> 4N rows, measured on the box it runs on.

    python3 tools/scaling.py --axis text --cores 1,4
    python3 tools/scaling.py --axis video --sizes 1,4

Axes: ``text``, ``image`` and ``video`` run perfbench's
``text_dedup_skewed``, ``image_dedup`` and ``video_dedup`` workloads;
``audio_frames`` and ``embedding`` run the two workloads defined below,
which perfbench does not have.

Each level is one run of ``perfbench/run.py`` (``run.main``, imported,
not edited) in a child process of its own, with its own Spark session;
the levels run one after another, never two at once.

- ``--cores C1,C2,...``: the child pins itself to the first C of this
  process's CPUs (run.py sizes ``local[C]`` from its affinity) and runs
  the workload at its perfbench size, untraced. The ladder runs ROUNDS
  times in turn (1,4,1,4,...), so a drift of the box's CPU speed over
  minutes lands on both levels alike. Each level run reports
  ``job_cpu_s``, ``job_s``, ``setup_s`` and the steal share; each step
  reports, per round and as median and range over the rounds, the wall
  ``speedup`` job_s(C) / job_s(C') and the ``cpu_inflation``
  job_cpu_s(C') / job_cpu_s(C). Steal slows the wall clock and not the
  CPU clock, so it cannot pass for poor scaling.
- ``--sizes S1,S2,...``: every size constant of the workload times S,
  on all of this process's CPUs, one traced run (``--trace 1``) per
  level. More rows means more clusters of the same shape. Each level
  reports the rows out of every layer, band events, LSH candidates and
  pair recall; each step reports the growth of each per 4x rows.

Times follow perfbench's protocol: the median CPU seconds of whole
cycles after one warm-up cycle, over the driver, the Spark JVM and its
Python workers (traced runs time their untraced cycles, with the event
log on). Every level records its commit, cores, seed, load average and
steal share, and the report names the box. Prints one JSON report.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import math
import os
import platform
import statistics
import sys
from concurrent.futures import ProcessPoolExecutor
from multiprocessing import get_context
from pathlib import Path

import numpy as np
import pandas as pd

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT / "perfbench"))
import workloads as W  # noqa: E402  (run.py reads workloads.WORKLOADS)

PKG = W.PKG
SECONDS = 6             # timed seconds per level: BENCHMARK.json's run_seconds
SEED = 901
ROUNDS = 3              # alternating runs of a core ladder


class LadderError(ValueError):
    """An axis or a list of levels the harness cannot run."""


class AudioFrameDedup(W.DedupWorkload):
    """Frame-level audio dedup (``audio_frame_cluster_assignments``) over
    the frame-set fixture of ``sources/audio``: trimmed and re-gained
    copies, shared-intro hard negatives, string clip ids."""

    name = "audio_frame_dedup"
    id_col = "clip_id"
    columns = ("clip_id", "bytes")
    N_CLIPS = 2000
    DUP_RATE = 0.3
    layer_plan = (
        (f"{PKG}.pipeline_audio", "audio_frame_sketches", "scan_sketch",
         None),
        (f"{PKG}.operators.visual", "simhash_pairs", "visual", None),
        (f"{PKG}.operators.lsh", "bucketed_pair_events", "visual",
         "visual.band_events"),
        (f"{PKG}.pipeline_audio", "audio_frame_edges", "vote", None),
        (f"{PKG}.operators.connected_components",
         "assign_clusters_string_ids", "idmap", None),
        (f"{PKG}.operators.connected_components", "connected_components",
         "cc", None),
    )
    # visual bands the distinct informative codes, not the frame rows
    rows_in = {"scan_sketch": W.INPUT, "visual": "scan_sketch",
               "vote": "visual", "cc": "vote", "idmap": W.INPUT}

    def generate(self, seed: int) -> pd.DataFrame:
        from datasketches_rust_spark.sources.audio import \
            materialize_clips_frameset
        from datasketches_rust_spark.sources.images import plan_clusters
        plan = plan_clusters(self.N_CLIPS, seed, self.DUP_RATE)
        return materialize_clips_frameset(range(self.N_CLIPS), plan, seed)

    def entry(self, df):
        from datasketches_rust_spark.pipeline_audio import \
            audio_frame_cluster_assignments
        return audio_frame_cluster_assignments(df)

    def describe(self) -> dict:
        return {"input_rows": self.input_rows, "dup_rate": self.DUP_RATE}


class EmbeddingDedup(W.DedupWorkload):
    """Embedding dedup at a near-dup operating point: ``cosine_pairs_lsh``
    (threshold 0.9, 384 hyperplane bits in 16 bands of 24) for the edges,
    ``assign_clusters`` for the clusters. The vectors are iid Gaussian;
    every DUP_EVERY-th row is its predecessor plus NOISE x Gaussian
    (cosine ~0.989), so the planted (i-1, i) pairs are the 2-clusters.
    A planted pair shares a band with probability 1 - (1 - p^24)^16
    ~0.998 at p = 1 - angle/pi ~0.953."""

    name = "embedding_dedup"
    id_col = "vec_id"
    columns = ("vec_id", "embedding")
    N_VECTORS = 20_000
    DIM = 64
    DUP_EVERY = 20
    NOISE = 0.15
    THRESHOLD, NBITS, NUM_BANDS = 0.9, 384, 16
    layer_plan = (
        (f"{PKG}.operators.similarity", "_band_candidates", "lsh", None),
        # the kernel under pair_candidates: its rows are the band events
        (f"{PKG}.operators.lsh", "_pair_events", "lsh",
         "visual.band_events"),
        (f"{PKG}.operators.similarity", "cosine_pairs_lsh", "verify",
         None),
        (f"{PKG}.operators.connected_components", "connected_components",
         "cc", None),
    )
    rows_in = {"lsh": W.INPUT, "verify": "lsh", "cc": "verify"}

    def generate(self, seed: int) -> pd.DataFrame:
        rng = np.random.default_rng(seed)
        ids = np.arange(self.N_VECTORS, dtype=np.int64)
        vecs = rng.standard_normal((self.N_VECTORS, self.DIM))
        dup = ids % self.DUP_EVERY == 1
        vecs[dup] = vecs[ids[dup] - 1] + self.NOISE * rng.standard_normal(
            (int(dup.sum()), self.DIM))
        return pd.DataFrame({"vec_id": ids,
                             "embedding": list(vecs.astype(np.float32)),
                             "cluster_id": np.where(dup, ids - 1, ids)})

    def entry(self, df):
        from datasketches_rust_spark.operators import similarity
        from datasketches_rust_spark.operators.connected_components import \
            assign_clusters

        def edges(items, id_col):
            return similarity.cosine_pairs_lsh(
                items, self.THRESHOLD, id_col=id_col, nbits=self.NBITS,
                num_bands=self.NUM_BANDS, dim=self.DIM)
        return assign_clusters(df, edges, self.id_col)

    def describe(self) -> dict:
        return {"input_rows": self.input_rows, "dim": self.DIM,
                "threshold": self.THRESHOLD, "nbits": self.NBITS,
                "num_bands": self.NUM_BANDS,
                "planted_pairs": self.N_VECTORS // self.DUP_EVERY}


# axis -> (workload class, the size constants a --sizes level multiplies)
AXES = {
    "text": (W.TextDedupSkewed, ("N_DOCS", "TEMPLATES")),
    "image": (W.ImageDedup, ("N_IMAGES",)),
    "video": (W.VideoDedup, ("N_VIDEOS",)),
    "audio_frames": (AudioFrameDedup, ("N_CLIPS",)),
    "embedding": (EmbeddingDedup, ("N_VECTORS",)),
}


def parse_ladder(axis: str, levels: str) -> list[int]:
    """The levels of one ladder: at least two positive integers, each
    larger than the one before."""
    if axis not in AXES:
        raise LadderError(f"unknown axis {axis!r}; axes: "
                          f"{', '.join(AXES)}")
    try:
        out = [int(x) for x in levels.split(",")]
    except ValueError:
        raise LadderError(f"levels are integers: {levels!r}") from None
    if len(out) < 2:
        raise LadderError(f"a ladder needs at least two levels: {levels!r}")
    if out[0] < 1 or any(b <= a for a, b in zip(out, out[1:])):
        raise LadderError(f"levels must be positive and increase: "
                          f"{levels!r}")
    return out


def growth_per_4x(lo: float, hi: float, factor: float) -> float | None:
    """hi/lo scaled to a 4x step: (hi/lo) ** (log 4 / log factor)."""
    if not lo:
        return None
    return (hi / lo) ** (math.log(4) / math.log(factor))


def spread(xs: list[float]) -> dict:
    """One figure over the rounds: its median, its range and every run."""
    return {"median": statistics.median(xs), "min": min(xs),
            "max": max(xs), "runs": xs}


def core_steps(levels: list[dict]) -> list[dict]:
    """Wall speedup and CPU inflation between consecutive core levels of
    each round, with their spread over the rounds."""
    rounds = {}
    for rec in levels:
        rounds.setdefault(rec["round"], []).append(rec)
    first = rounds[min(rounds)]
    return [{"cores": [first[i]["cores"], first[i + 1]["cores"]],
             "speedup": spread([r[i]["job_s"] / r[i + 1]["job_s"]
                                for r in rounds.values()]),
             "cpu_inflation": spread([r[i + 1]["job_cpu_s"] / r[i]["job_cpu_s"]
                                      for r in rounds.values()])}
            for i in range(len(first) - 1)]


def size_steps(levels: list[dict]) -> list[dict]:
    """Growth per 4x rows of the input rows, job_cpu_s and every count,
    between consecutive size levels."""
    steps = []
    for a, b in zip(levels, levels[1:]):
        factor = b["scale"] / a["scale"]
        figures = {"input_rows": (a["input_rows"], b["input_rows"]),
                   "job_cpu_s": (a["job_cpu_s"], b["job_cpu_s"])}
        figures.update({k: (v, b["counts"].get(k, 0))
                        for k, v in a["counts"].items()})
        steps.append({"scale": [a["scale"], b["scale"]],
                      "growth_per_4x": {k: growth_per_4x(lo, hi, factor)
                                        for k, (lo, hi) in figures.items()}})
    return steps


def level_record(describe: dict, result: dict, scale: int) -> dict:
    """One level's figures from run.py's description and result lines."""
    e2e = describe["end_to_end"]
    rec = {"cores": describe["cores"], "scale": scale,
           "commit": describe["commit"], "seed": describe["seed"],
           "loadavg_start": describe["loadavg_start"],
           "steal_frac": describe["steal_frac"],
           "input_rows": describe["input_rows"],
           "job_cpu_s": e2e["job_cpu_s"]["value"],
           "job_s": e2e["job_s"]["value"],
           "setup_s": e2e["setup_s"]["value"],
           "ops": result["attempted"], "ops_failed": result["failed"],
           **{k: e2e[k]["value"] for k in ("pair_recall", "pair_precision")
              if k in e2e}}
    if describe["trace"]:
        m = result["metrics"]
        rec["counts"] = {k: v["value"] for k, v in m.items()
                         if (k.endswith((".rows_out", ".task_s"))
                             or k in ("visual.band_events",
                                      "lsh.candidates"))
                         and v["value"]}
    return rec


def _run_level(axis: str, cpus: list[int], scale: int,
               trace: int) -> tuple[int, str]:
    """One level, in a fresh process: pin to ``cpus``, register the
    axis' workload with its sizes times ``scale`` under its perfbench
    name, run perfbench once; return its exit code and stdout."""
    os.sched_setaffinity(0, cpus)
    import run
    base, sizes = AXES[axis]
    W.WORKLOADS[base.name] = type(base.__name__, (base,), {
        a: getattr(base, a) * scale for a in sizes})
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        rc = run.main(["--workload", base.name, "--seed", str(SEED),
                       "--seconds", str(SECONDS), "--trace", str(trace)])
    return rc, out.getvalue()


def run_level(axis: str, cpus: list[int], scale: int, trace: int) -> dict:
    with ProcessPoolExecutor(1, mp_context=get_context("spawn")) as pool:
        rc, out = pool.submit(_run_level, axis, cpus, scale, trace).result()
    lines = [json.loads(ln) for ln in out.splitlines() if ln.startswith("{")]
    if rc != 0 or len(lines) != 2:
        raise RuntimeError(f"{axis} level (cores {len(cpus)}, scale "
                           f"{scale}) failed with exit code {rc}")
    return level_record(lines[0]["perfbench"], lines[1], scale)


def box() -> dict:
    """The machine the figures come from."""
    model = next((ln.split(":", 1)[1].strip()
                  for ln in Path("/proc/cpuinfo").read_text().splitlines()
                  if ln.startswith("model name")), platform.processor())
    mem_kb = int(Path("/proc/meminfo").read_text().split()[1])
    return {"cpu_model": model, "cpus": os.cpu_count(),
            "usable_cpus": len(os.sched_getaffinity(0)),
            "mem_gb": round(mem_kb / 2 ** 20, 1),
            "kernel": platform.release(), "python": platform.python_version()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--axis", required=True, help=", ".join(AXES))
    ladder = ap.add_mutually_exclusive_group(required=True)
    ladder.add_argument("--cores", help="core counts, e.g. 1,4")
    ladder.add_argument("--sizes", help="size multipliers, e.g. 1,4")
    args = ap.parse_args(argv)
    cpus = sorted(os.sched_getaffinity(0))
    try:
        levels = parse_ladder(args.axis, args.cores or args.sizes)
        if args.cores and levels[-1] > len(cpus):
            raise LadderError(f"--cores {args.cores} asks for more than the "
                              f"{len(cpus)} CPUs this process may use")
    except LadderError as e:
        ap.error(str(e))

    records = []
    rounds = ROUNDS if args.cores else 1
    for rnd in range(rounds):
        for level in levels:
            print(f"scaling: {args.axis} "
                  f"{'cores' if args.cores else 'size x'}{level}",
                  file=sys.stderr, flush=True)
            if args.cores:
                rec = run_level(args.axis, cpus[:level], 1, 0)
                records.append({"round": rnd, **rec})
            else:
                records.append(run_level(args.axis, cpus, level, 1))
    report = {
        "axis": args.axis, "workload": AXES[args.axis][0].name,
        "ladder": "cores" if args.cores else "sizes", "box": box(),
        "protocol": (
            "tools/scaling.py: one perfbench/run.py run per level "
            f"(--seconds {SECONDS}, --trace {0 if args.cores else 1}), "
            "levels one after another in fresh processes"
            + (f", the core ladder {rounds} times in turn" if rounds > 1
               else "")
            + "; times are the median CPU seconds (job_cpu_s) and wall "
            "seconds (job_s) of whole cycles after one warm-up cycle, not a "
            "best warm trial"),
        "levels": records,
        "steps": core_steps(records) if args.cores else size_steps(records),
    }
    print(json.dumps(report, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
