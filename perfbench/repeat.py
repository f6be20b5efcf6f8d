"""Run the benchmark several times per workload, one seed each, and
report every metric's median, quartiles and spread across the runs.

    python3 perfbench/repeat.py --runs 10 [--workload NAME ...]

Spread is (q3 - q1) / median with the quartiles of
``statistics.quantiles(values, n=4)``; a metric whose spread exceeds its
bound in BENCHMARK.json is flagged. Runs execute one at a time from the
root of the checkout; per-run results go to perfbench/.work/repeat.jsonl.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def main(argv=None) -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--workload", action="append",
                    help="default: every workload in BENCHMARK.json")
    args = ap.parse_args(argv)
    names = args.workload or [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    log = ROOT / "perfbench" / ".work" / "repeat.jsonl"
    log.parent.mkdir(parents=True, exist_ok=True)
    worst = 0.0
    for name in names:
        values: dict[str, list[float]] = {}
        walls = []
        for seed in range(args.first_seed, args.first_seed + args.runs):
            t0 = time.monotonic()
            res = subprocess.run(
                [*spec["command"], "--workload", name, "--seed", str(seed),
                 "--seconds", str(spec["run_seconds"]),
                 "--trace", str(args.trace)],
                cwd=ROOT, capture_output=True, text=True, timeout=900)
            walls.append(time.monotonic() - t0)
            if res.returncode != 0:
                print(res.stderr[-3000:], file=sys.stderr)
                print(f"{name} seed {seed}: exit {res.returncode}")
                return 1
            lines = res.stdout.strip().splitlines()
            out = json.loads(lines[-1])
            with open(log, "a") as f:
                f.write(json.dumps({"workload": name, "seed": seed,
                                    "wall_s": walls[-1], **out,
                                    **json.loads(lines[-2])}) + "\n")
            if not out["correct"]:
                print(f"{name} seed {seed}: incorrect "
                      f"({out['failed']}/{out['attempted']} failed)")
            for k, v in out["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        print(f"{name}: {args.runs} runs, wall median "
              f"{statistics.median(walls):.1f} s, max {max(walls):.1f} s")
        for k, vals in values.items():
            q1, med, q3 = (statistics.quantiles(vals, n=4)
                           if len(vals) > 1 else (vals[0],) * 3)
            spread = (q3 - q1) / med if med else float("inf")
            bound = bounds.get(k)
            flag = ""
            if bound is not None:
                worst = max(worst, spread / bound)
                flag = "  OVER BOUND" if spread > bound else ""
            print(f"  {k:32s} median {med:12.4f}  q1 {q1:12.4f}  "
                  f"q3 {q3:12.4f}  spread {spread:7.4f}"
                  + (f"  bound {bound}" if bound is not None else "") + flag)
    if worst:
        print(f"largest spread / bound: {worst:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
