"""Embedding-axis scaling-efficiency evidence (BASELINE.json north_rule).

The fourth dedup axis with an N -> 4N artifact (image SCALING_r03,
text SCALING_r03_text, frame-audio SCALING_r04_audio_frames): this
harness measures the EXACT job shape the driver-verified
`embedding_dup_pairs` query runs — `operators/similarity.
cosine_pairs_lsh` (hyperplane-LSH candidate generation, id-only band
exchange with the 4096 hot-bucket star degrade, vectors re-joined
once for the exact-cosine verify) — at the NEAR-DUP operating point a
100 TB dedup deployment would use: threshold 0.9, 384 bits x 16 bands
(24 bits/band). At >= 20 bits per band the occupied band keys are
near-unique; candidate generation is the one LSH bucket pass
(operators/lsh.pair_candidates; recall 1.0 pinned by
tests/test_similarity.py::test_cosine_pairs_lsh_window_form).
SCALING_r05_embedding.json was measured on the window shape that pass
replaced (BASELINE.md, "Artifacts measured on superseded LSH
shapes"). The
query's own low-threshold default (0.45, 4-bit bands) is the WRONG
operating point to measure at corpus scale: every 16-key band bucket
holds ~n/16 members, star-degrades, and planted-pair recall collapses
(measured 1399/25k pairs at 500k rows) — a number that would fake a
throughput artifact for a job no one would run. Recall of the planted
near-dup pairs is measured IN-ARTIFACT per level (every planted pair
(i-1, i) has cosine ~0.989; expected recall at these parameters
1-(1-p^24)^16 ~ 0.998 with p~0.953).

Protocol is identical to the other axes (see tools/scaling_bench.py
for the full rationale): synthesize once, then each parallelism level
in its own JVM, run sequentially and EXCLUSIVELY, 1 cold +
WARM_TRIALS warm executions, throughput = n / best warm trial, AQE
off, fixed 48 MB scan partitions, zstd-1 codec, GC threads pinned to
the core allotment by `config.spark_session`. The 2 -> 8-core pair is
the faithful single-box proxy for an N -> 4N executor scale-out (both
levels under this box's shared-DRAM bandwidth wall —
tools/hw_scaling_probe.py); 8 -> 32 is reported alongside with that
hardware ceiling for context.

Input: deterministic hash-based Gaussian embeddings (dim 64) — the
iid-Gaussian worst case for hyperplane banding (bits are fair coins,
so every band bucket holds ~n/16 members and the star degrade is
ALWAYS on at measurement scale: the artifact measures the 100 TB
shape, not a small-input special case where pairwise banding still
fits). 5% of rows are planted near-dups of their predecessor
(perturbed copies, cosine ~0.989) so the candidate stage has true
positives whose recall the artifact reports. Synthesis is vectorized numpy (splitmix64
counter mixing keyed by (seed, vec_id, dim_index) -> Box-Muller), so
any row's vector is computable independently — parallel, seed-stable,
no Python-loop RNG.

Usage:
  python tools/scaling_bench_embedding.py                # all levels + merge
  python tools/scaling_bench_embedding.py --level 8 [n]  # one level only
  python tools/scaling_bench_embedding.py --merge [n]    # merge level files
Level results land in /tmp/dsrs_scaling_emb_l{N}.json; default n = 500k.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

INPUT_DIR = os.environ.get("SPARK_GRAFT_SCALING_EMB_INPUT",
                           "/tmp/dsrs_scaling_emb_input")
LEVELS = (2, 8, 32)
PAIRS = ((2, 8), (8, 32))
PRIMARY_PAIR = (2, 8)
WARM_TRIALS = 3
DEFAULT_N = 500_000

_SYNTH = r"""
import json, sys
sys.path.insert(0, "/root/repo")
n = int(sys.argv[1]); out = sys.argv[2]
import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from datasketches_rust_spark.config import spark_session

DIM = 64
SEED = np.uint64(0x9E3779B97F4A7C15)


def _mix(x):
    # splitmix64 finalizer, vectorized over uint64 arrays
    x = np.asarray(x, dtype=np.uint64).copy()
    with np.errstate(over="ignore"):
        x += np.uint64(0x9E3779B97F4A7C15)
        z = x
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        z = z ^ (z >> np.uint64(31))
    return z


def _gauss(ids, salt):
    # (len(ids), DIM) standard normals, a pure function of (id, salt):
    # two uniforms per dim from counter mixing -> Box-Muller
    ids = np.asarray(ids, dtype=np.uint64)
    ctr = (ids[:, None] * np.uint64(DIM * 2)
           + np.arange(DIM * 2, dtype=np.uint64)[None, :])
    with np.errstate(over="ignore"):
        bits = _mix(ctr ^ (SEED + np.uint64(salt) * np.uint64(0x517CC1B7)))
    u = (bits >> np.uint64(11)).astype(np.float64) / float(1 << 53)
    u = np.clip(u, 1e-16, 1.0)
    u1, u2 = u[:, :DIM], u[:, DIM:]
    return np.sqrt(-2.0 * np.log(u1)) * np.cos(2.0 * np.pi * u2)


def gen(batches):
    for pdf in batches:
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        vecs = _gauss(ids, 0)
        dup = (ids % 20 == 1) & (ids > 0)
        if dup.any():
            base = _gauss(ids[dup] - 1, 0)
            noise = _gauss(ids[dup], 1)
            vecs[dup] = base + 0.15 * noise  # cosine ~0.989 to base
        yield pd.DataFrame({
            "vec_id": ids,
            "embedding": [row.astype(np.float32) for row in vecs]})


spark = spark_session("synth-emb", cpus=32, shuffle_partitions=32)
out_df = (spark.range(n).select(F.col("id").alias("vec_id"))
          .repartition(64)
          .mapInPandas(gen, "vec_id long, embedding array<float>"))
out_df.write.mode("overwrite").parquet(out)
print(json.dumps({"written": spark.read.parquet(out).count()}))
spark.stop()
"""

_CHILD = r"""
import json, sys, time
sys.path.insert(0, "/root/repo")
cpus = int(sys.argv[1]); path = sys.argv[2]; warm_trials = int(sys.argv[3])
from pyspark.sql import functions as F
from datasketches_rust_spark.config import spark_session
from datasketches_rust_spark.operators.similarity import cosine_pairs_lsh
spark = spark_session("scaling-emb", cpus=cpus,
                      shuffle_partitions=max(32, cpus))
spark.range(1000).selectExpr("sum(id)").collect()  # JVM warm-up
emb = spark.read.parquet(path)
n = emb.count()
runs, n_pairs, rec = [], None, None
for trial in range(1 + warm_trials):
    t0 = time.time()
    n_pairs = cosine_pairs_lsh(emb, threshold=0.9, dim=64,
                               nbits=384, num_bands=16).count()
    runs.append(round(time.time() - t0, 2))
# planted-pair recall (untimed, once): pairs (i-1, i) with i%20==1
pairs = cosine_pairs_lsh(emb, threshold=0.9, dim=64,
                         nbits=384, num_bands=16)
found = (pairs.where((F.col("id_b") == F.col("id_a") + 1)
                     & (F.col("id_b") % 20 == 1)).count())
planted = (n - 2) // 20 + 1 if n >= 2 else 0  # ids 1,21,41,... < n
rec = round(found / planted, 5) if planted else None
warm = min(runs[1:])
print(json.dumps({
    "cpus": cpus, "n": n, "pairs_out": n_pairs,
    "planted_pairs": planted, "planted_found": found,
    "planted_recall": rec,
    "cold_sec": runs[0], "warm_secs": runs[1:], "warm_sec": warm,
    "cold_vecs_per_sec": round(n / runs[0], 1),
    "warm_vecs_per_sec": round(n / warm, 1)}))
spark.stop()
"""


def _run(code: str, *args: str, cpus: str = "32") -> dict:
    out = subprocess.run(
        [sys.executable, "-c", code, *args],
        capture_output=True, text=True, timeout=7200,
        env={**os.environ, "SPARK_GRAFT_CPUS": cpus,
             "SPARK_GRAFT_MAX_PARTITION_BYTES": "50331648",
             "SPARK_GRAFT_AQE": "false",
             "SPARK_DRIVER_MEMORY": os.environ.get(
                 "SPARK_DRIVER_MEMORY", "24g")})
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
    if not lines:
        raise RuntimeError(out.stderr[-4000:])
    return json.loads(lines[-1])


_SYNTH_COUNT = r"""
import json, sys
try:
    import pyarrow.dataset as ds
    print(json.dumps({"rows": ds.dataset(sys.argv[1]).count_rows()}))
except Exception:
    print(json.dumps({"rows": -1}))
"""


def _ensure_input(n: int) -> None:
    if not os.path.exists(os.path.join(INPUT_DIR, "_SUCCESS")) or \
            _run(_SYNTH_COUNT, INPUT_DIR)["rows"] != n:
        print(f"synthesizing {n} embeddings -> {INPUT_DIR}",
              file=sys.stderr)
        _run(_SYNTH, str(n), INPUT_DIR)


def _level_path(cpus: int) -> str:
    return f"/tmp/dsrs_scaling_emb_l{cpus}.json"


def run_level(cpus: int, n: int) -> dict:
    _ensure_input(n)
    r = _run(_CHILD, str(cpus), INPUT_DIR, str(WARM_TRIALS), cpus=str(cpus))
    with open(_level_path(cpus), "w") as f:
        json.dump(r, f, indent=1)
    return r


def merge(n: int) -> dict:
    levels = {}
    for cpus in LEVELS:
        with open(_level_path(cpus)) as f:
            levels[cpus] = json.load(f)
        if levels[cpus]["n"] != n:
            raise SystemExit(
                f"level file {_level_path(cpus)} measured n="
                f"{levels[cpus]['n']}, merge asked for n={n} — pass the "
                "same n the levels ran with")
    out = {
        "job": "embedding_dup_pairs (cosine_pairs_lsh, threshold 0.9, "
               "384 bits x 16 bands, dim 64, star cap 4096)",
        "n_vectors": n,
        "input": INPUT_DIR,
        "protocol": (f"1 cold + {WARM_TRIALS} warm trials per level, "
                     "separate JVMs, exclusive box, identical "
                     "input/config; throughput = n / best warm trial"),
        "levels": {f"local{c}": levels[c] for c in LEVELS},
        "pairs": {},
    }
    for lo, hi in PAIRS:
        eff = (levels[hi]["warm_vecs_per_sec"]
               / levels[lo]["warm_vecs_per_sec"]) / (hi / lo)
        out["pairs"][f"{lo}->{hi}"] = {
            "factor": hi // lo,
            "throughput_lo": levels[lo]["warm_vecs_per_sec"],
            "throughput_hi": levels[hi]["warm_vecs_per_sec"],
            "scaling_efficiency_warm": round(eff, 3),
            "scaling_efficiency_cold": round(
                (levels[hi]["cold_vecs_per_sec"]
                 / levels[lo]["cold_vecs_per_sec"]) / (hi / lo), 3),
        }
    lo, hi = PRIMARY_PAIR
    primary = out["pairs"][f"{lo}->{hi}"]
    out["primary_pair"] = f"{lo}->{hi}"
    out["primary_pair_rationale"] = (
        "N->4N cores with both levels below this box's DRAM-bandwidth "
        "wall (tools/hw_scaling_probe.py: streaming workloads cap at "
        "~2.1x for 8->32 procs on this single box, while a real N->4N "
        "executor scale-out multiplies memory bandwidth by 4). 8->32 is "
        "reported alongside for transparency.")
    out["scaling_efficiency_warm"] = primary["scaling_efficiency_warm"]
    out["target"] = 0.8
    out["pass"] = primary["scaling_efficiency_warm"] >= 0.8
    return out


def main() -> None:
    args = [a for a in sys.argv[1:]]
    level = None
    merge_only = False
    if "--level" in args:
        i = args.index("--level")
        level = int(args[i + 1])
        del args[i:i + 2]
    if "--merge" in args:
        merge_only = True
        args.remove("--merge")
    n = int(args[0]) if args else DEFAULT_N

    if level is not None:
        print(json.dumps(run_level(level, n), indent=1))
        return
    if merge_only:
        print(json.dumps(merge(n), indent=1))
        return
    for cpus in LEVELS:
        print(f"level local[{cpus}] ...", file=sys.stderr)
        run_level(cpus, n)
    print(json.dumps(merge(n), indent=1))


if __name__ == "__main__":
    main()
