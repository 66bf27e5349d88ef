"""Run the benchmark over several seeds and summarise each metric.

    python3 perfbench/sweep.py --workload tpch --seeds 1-10 [--trace 1]

Runs ``run.py`` once per seed, one after another, each in a fresh
process as the benchmark's contract requires, and prints for every
metric its median, quartiles, spread (quartile distance over the
median), range and, where ten samples lie above it, the highest
supported percentile. The records go to ``perfbench/.out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402
import stats  # noqa: E402


def parse_seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(run.WORKLOADS))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    records = []
    for seed in parse_seeds(args.seeds):
        t0 = time.perf_counter()
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(args.trace)],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, check=True,
        ).stdout
        rec = json.loads(out.strip().splitlines()[-1])
        records.append(rec)
        print(f"seed {seed}: correct={rec['correct']} failed={rec['failed']}/{rec['attempted']} "
              f"wall={time.perf_counter() - t0:.1f}s", file=sys.stderr, flush=True)

    os.makedirs(run.OUT_DIR, exist_ok=True)
    path = os.path.join(run.OUT_DIR, f"sweep-{args.workload}-t{args.trace}-{args.seeds}.json")
    with open(path, "w") as f:
        json.dump(records, f)
    print(f"{args.workload} trace={args.trace} runs={len(records)} "
          f"all_correct={all(r['correct'] for r in records)}")
    for name in records[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in records]
        q1, q2, q3 = stats.quartiles(vals)
        top = stats.top_percentile(vals)
        print(f"  {name:44s} median {q2:12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}  "
              f"spread {stats.spread(vals) if q2 else 0.0:7.4f}  "
              f"range {min(vals):.4f}-{max(vals):.4f}"
              + (f"  p{top[0]:g} {top[1]:.4f}" if top else ""))
    return 0


if __name__ == "__main__":
    sys.exit(main())
