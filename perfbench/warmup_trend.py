"""Record the round-time trend that justifies each workload's warm-up.

    python3 perfbench/warmup_trend.py --rounds 10 [--workload NAME]

Plays ROUNDS rounds per workload with no warm-up at all, right after
set-up, and writes every round's wall time and per-operation latencies
to perfbench/warmup_trend.json. test_perfbench.py checks the configured
WARMUP_ROUNDS against this record.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, "perfbench", "warmup_trend.json")


def trend(name: str, rounds: int, seed: int) -> dict:
    from perfbench import harness
    from perfbench.run import _module

    wl = _module(name)
    work = os.path.join(ROOT, ".perfbench_work", f"trend-{name}-{os.getpid()}")
    os.makedirs(work)
    try:
        inputs = wl.make_inputs(seed, work)
        spark = harness.start_spark(ROOT, work, trace=False)
        try:
            _, state = harness.set_up(wl, spark, inputs, work)
            played = [
                harness.play_round(wl.play, spark, state, inputs)
                for _ in range(rounds)
            ]
            wl.teardown(state)
        finally:
            harness.stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if any(r.failed for r in played):
        raise SystemExit(f"{name}: a round failed")
    return {
        "seed": seed,
        "round_s": [r.wall for r in played],
        "ops": [{k: v for k, v in r.ops.items()} for r in played],
    }


def main() -> int:
    from perfbench.run import NAMES

    ap = argparse.ArgumentParser()
    ap.add_argument("--rounds", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--workload", choices=NAMES)
    args = ap.parse_args()
    record = {}
    if os.path.exists(OUT):
        with open(OUT) as f:
            record = json.load(f)
    for name in [args.workload] if args.workload else NAMES:
        record[name] = trend(name, args.rounds, args.seed)
        with open(OUT, "w") as f:
            json.dump(record, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
