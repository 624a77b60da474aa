"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload NAME --seeds 1-10 --seconds 5

Runs the benchmark once per seed, one process at a time, and prints for
each end-to-end metric its median over the runs and the distance between
the first and third quartile as a share of that median -- the figure
that must stay below each metric's bound in BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=5)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bounds = {m["name"]: m["bound"] for m in json.load(f)["end_to_end"]}
    values: dict[str, list[float]] = {}
    for seed in seeds(args.seeds):
        out = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(args.seconds),
             "--trace", "0"],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
            text=True,
        )
        res = json.loads(out.stdout.strip().splitlines()[-1])
        print(json.dumps({"seed": seed, **res}), flush=True)
        if out.returncode != 0 or not res["correct"]:
            return 1
        for k, m in res["metrics"].items():
            values.setdefault(k, []).append(m["value"])
    for k, xs in values.items():
        q1, med, q3 = statistics.quantiles(xs, n=4)
        print(f"{args.workload} {k:12} median {med:.4f} "
              f"spread {(q3 - q1) / med:.3f} bound {bounds.get(k)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
