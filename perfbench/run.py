"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Builds its inputs from --seed, sets up
SETUP_REPEATS times, warms up, then plays identical rounds until
--seconds have passed. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the
metrics are the end-to-end roles, with --trace 1 the per-layer metrics.
The line before it is {"info": {...}}: settings, input digest, every
sample, the metrics under the names README.md gives them per workload,
and each tail's percentile and count.

    python3 perfbench/run.py --workload all --seed N --seconds S

runs every workload in its own process and prints one table with every
workload's end-to-end metrics, units and failed/attempted counts.
Exits non-zero when a correctness check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAMES = ("edit_session", "event_log_ingest", "ann_serve")

# role -> unit, shared by every workload (BENCHMARK.json end_to_end)
ROLE_UNITS = {
    "setup_s": "s",
    "op1_p50_s": "s",
    "op2_p50_s": "s",
    "op3_p50_s": "s",
    "work_per_s": "1/s",
}


def _module(name: str):
    import importlib

    return importlib.import_module(f"perfbench.{name}")


def run_one(name: str, seed: int, seconds: int, trace: bool) -> int:
    from perfbench import harness
    from perfbench.harness import play_round, start_spark, stop_spark

    wl = _module(name)
    work = os.path.join(ROOT, ".perfbench_work", f"{name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    info: dict = {"workload": name, "seed": seed, "seconds": seconds}
    try:
        inputs = wl.make_inputs(seed, work)
        info["input_digest"] = inputs["digest"]
        info["input_sizes"] = inputs["sizes"]
        spark = start_spark(ROOT, work, trace)
        try:
            info["spark"] = harness.spark_settings()
            setup_s, state = harness.set_up(wl, spark, inputs, work)
            warm = [
                play_round(getattr(wl, "warm", wl.play), spark, state, inputs)
                for _ in range(wl.WARMUP_ROUNDS)
            ]
            tracer = ref = None
            if trace:
                from perfbench import tracing

                # one untraced round after warm-up is the reference
                # for trace.overhead_frac
                ref = play_round(wl.play, spark, state, inputs)
                tracer = tracing.Tracer(spark)
                tracer.install()
            timed = []
            deadline = time.perf_counter() + seconds
            while True:
                timed.append(
                    play_round(wl.play, spark, state, inputs, tracer)
                )
                if timed[-1].failed:
                    break
                # the traced run compares its round with the reference one
                least = 1 if trace else getattr(wl, "MIN_ROUNDS", 1)
                if time.perf_counter() >= deadline and len(timed) >= least:
                    break
            if tracer is not None:
                tracer.uninstall()
            rounds = warm + ([ref] if ref else []) + timed
            attempted = sum(r.attempted for r in rounds)
            failed = sum(r.failed for r in rounds)
            roles, detail = wl.summarize(timed, setup_s)
            info.update(
                setup_s=setup_s,
                warmup_round_s=[r.wall for r in warm],
                timed_round_s=[r.wall for r in timed],
                metrics=detail,
            )
            if trace:
                metrics = tracing.layer_metrics(tracer, timed, ref)
                info["trace"] = tracer.info
            else:
                metrics = {
                    k: {"value": roles[k], "unit": u}
                    for k, u in ROLE_UNITS.items()
                }
            wl.teardown(state)
        finally:
            stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    correct = failed == 0
    print(json.dumps({"info": info}, default=float))
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    sys.stdout.flush()
    return 0 if correct else 1


def report(seed: int, seconds: int) -> int:
    """Every workload in its own process; one table of its end-to-end
    metrics, under their per-workload names, with units and
    failed/attempted counts."""
    units = {"events_per_s": "1/s", "queries_per_s": "1/s"}
    status = 0
    rows = []
    for name in NAMES:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
            cwd=ROOT, stdout=subprocess.PIPE, text=True,
        )
        lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
        if proc.returncode != 0 or len(lines) < 2:
            print(f"{name}: run failed (exit {proc.returncode})")
            status = 1
            continue
        info = json.loads(lines[-2])["info"]
        res = json.loads(lines[-1])
        for k, v in info["metrics"].items():
            if k == "samples" or k.endswith("_tail"):
                continue
            rows.append((name, k, v, units.get(k, "s"), res))
        for k, v in info["metrics"].items():
            if k.endswith("_tail"):
                rows.append((name, k + "_s", v and v[1], "s", res))
                rows.append((name, k + "_pct", v and v[0], "percentile", res))
                rows.append((name, k + "_n", v and v[2], "count", res))
    for name, k, v, unit, res in rows:
        val = "n/a" if v is None else f"{v:.4f}"
        print(f"{name:17} {k:22} {val:>12} {unit:10} "
              f"failed/attempted {res['failed']}/{res['attempted']}")
    return status


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=NAMES + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "esvc_spark", "__init__.py")):
        print(
            f"perfbench: no esvc_spark package under {ROOT}; run from a "
            "checkout of the repository",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, ROOT)
    if args.workload == "all":
        return report(args.seed, args.seconds)
    return run_one(args.workload, args.seed, args.seconds, bool(args.trace))


if __name__ == "__main__":
    sys.exit(main())
