"""Steadiness sentinels for the benchmark.

    python3 -m pytest perfbench -q

- the same seed yields byte-identical inputs, another seed other inputs;
- the traced round issues as many Spark jobs as the untraced reference
  round before it (a drift means the rounds are not identical);
- each workload's warm-up length matches the round-time trend recorded
  in warmup_trend.json (regenerate it with warmup_trend.py);
- without the library next to it the benchmark fails without a result.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.run import NAMES, _module  # noqa: E402
from perfbench.tracing import PER_LAYER  # noqa: E402

# The timed round may be this much slower than the steady state: with the
# JVM's tiered JIT a round keeps speeding up for several rounds, and a
# run (about 45 s, JVM start included) affords one warm-up round. Runs
# stay comparable because every run times the same round.
TIMED_TOL = 0.5
# the warm-up must skip a round at least this much slower than the timed one
COLD_GAIN = 0.15


def _files(root) -> dict[str, bytes]:
    out = {}
    for d, _, names in os.walk(root):
        for f in names:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def _run(*args, cwd=ROOT):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=900,
    )


@pytest.mark.parametrize("name", NAMES)
def test_same_seed_same_inputs(name, tmp_path):
    wl = _module(name)
    a = wl.make_inputs(7, str(tmp_path / "a"))
    b = wl.make_inputs(7, str(tmp_path / "b"))
    c = wl.make_inputs(8, str(tmp_path / "c"))
    assert a["digest"] == b["digest"] != c["digest"]
    assert _files(tmp_path / "a") == _files(tmp_path / "b")


@pytest.mark.parametrize("name", NAMES)
def test_spark_jobs_repeat_across_rounds(name):
    p = _run("--workload", name, "--seed", "3", "--seconds", "1", "--trace", "1")
    assert p.returncode == 0, p.stderr[-3000:]
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
    info = json.loads(lines[-2])["info"]
    res = json.loads(lines[-1])
    assert res["correct"] and res["failed"] == 0
    assert set(res["metrics"]) == set(PER_LAYER)
    jobs = info["trace"]["spark.jobs_per_round"]
    assert len(jobs) >= 2 and len(set(jobs)) == 1 and jobs[0] > 0, jobs


@pytest.mark.parametrize("name", NAMES)
def test_warmup_matches_recorded_trend(name):
    """In the recorded trend, per operation kind, the median call of the
    round a run times (round WARMUP_ROUNDS) is within TIMED_TOL of the
    late rounds' median call, and the round the warm-up skips is at least
    COLD_GAIN slower than the timed one for some kind."""
    with open(os.path.join(ROOT, "perfbench", "warmup_trend.json")) as f:
        ops = json.load(f)[name]["ops"]
    w = _module(name).WARMUP_ROUNDS
    late = ops[len(ops) // 2:]
    gains = []
    for kind in ops[0]:
        steady = statistics.median(x for r in late for x in r[kind])
        timed = statistics.median(ops[w][kind])
        assert timed <= steady * (1 + TIMED_TOL), (kind, ops[w][kind], steady)
        if w:
            gains.append(statistics.median(ops[w - 1][kind]) / timed)
    assert w == 0 or max(gains) > 1 + COLD_GAIN, gains


def test_fails_without_the_library(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    p = _run("--workload", NAMES[0], "--seed", "1", "--seconds", "1",
             "--trace", "0", cwd=tmp_path)
    assert p.returncode != 0
    assert not any(ln.startswith("{") for ln in p.stdout.splitlines())
