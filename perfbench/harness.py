"""Session, timing loop and statistics shared by the three workloads.

One process, one client thread, closed loop: each operation starts only
after the previous one returned. A run is

    inputs(seed) -> SETUP_REPEATS x setup -> warm-up rounds -> timed rounds

and every timed round does identical work, so per-round counts (Spark
jobs, commutation tests, micro-batches) must repeat exactly.
"""

from __future__ import annotations

import math
import os
import statistics
import sys
import time
import traceback
from collections import defaultdict
from contextlib import contextmanager

# Set up more than once per run and report the median. Two, not more: a
# benchmark session is 70 runs in 3420 s, and one more index build or history
# ingest per run does not fit.
SETUP_REPEATS = 2

# Spark settings, fixed here rather than inherited from get_spark's
# host-following defaults (cpu_count cores, 16g driver heap -- more than
# a 15 GB host has). Recorded in every run's info line.
MAX_CORES = 4
SHUFFLE_PARTITIONS = 4
DRIVER_MEMORY = "2g"
AQE = "false"

# Percentile ladder for tails: the highest one with at least ten samples
# beyond it is reported, together with its sample count.
_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def spark_settings() -> dict:
    cores = min(MAX_CORES, os.cpu_count() or 1)
    return {
        "master": f"local[{cores}]",
        "spark.sql.shuffle.partitions": str(SHUFFLE_PARTITIONS),
        "spark.sql.adaptive.enabled": AQE,
        "spark.driver.memory": DRIVER_MEMORY,
    }


def start_spark(root: str, work: str, trace: bool):
    """A local session whose every scratch path lives under `work`.

    The repository root goes on PYTHONPATH before the JVM starts: the
    event-log pipeline's mapInPandas workers import esvc_spark and fail
    with "No module named 'esvc_spark'" without it."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    # no hsperfdata files in the system temp dir from the JVMs we start
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    import tempfile

    tempfile.tempdir = tmp

    from esvc_spark.session import get_spark

    s = spark_settings()
    conf = {
        "spark.sql.adaptive.enabled": s["spark.sql.adaptive.enabled"],
        "spark.driver.memory": s["spark.driver.memory"],
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    if trace:
        # the status store drops jobs past retainedJobs (default 1000);
        # a traced run must keep every job of every timed round
        conf["spark.ui.retainedJobs"] = "100000"
        conf["spark.ui.retainedStages"] = "100000"
        conf["spark.sql.ui.retainedExecutions"] = "100000"
    spark = get_spark(
        "perfbench",
        cpus=int(s["master"][6:-1]),
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM child process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    # a later session in this process must launch a new JVM
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait(timeout=30)


# ----------------------------------------------------------- statistics


def median(xs):
    return statistics.median(xs) if xs else None


def tail(xs) -> tuple[float, float, int] | None:
    """(percentile, value, n): the highest ladder percentile with at
    least ten samples beyond it (nearest rank), or None when n < 11."""
    n = len(xs)
    ys = sorted(xs)
    best = None
    for p in _LADDER:
        rank = max(1, math.ceil(p / 100.0 * n))
        if n - rank >= 10:
            best = (p, ys[rank - 1], n)
    return best


# --------------------------------------------------------------- rounds


class Round:
    """Samples and outcomes of one round. `ops[kind]` holds one latency
    per operation of that kind; `spans` holds (kind, start_ms, end_ms)
    wall-clock intervals for attributing Spark jobs to operations."""

    def __init__(self):
        self.ops: dict[str, list[float]] = defaultdict(list)
        self.spans: list[tuple[str, float, float]] = []
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.wall = 0.0
        self.start_ms = 0.0
        self.end_ms = 0.0

    @contextmanager
    def op(self, kind: str):
        """Time one operation. An exception counts it as failed and ends
        the round."""
        self.attempted += 1
        w0 = time.time() * 1000.0
        t0 = time.perf_counter()
        try:
            yield
        except Exception:
            self.failed += 1
            self.errors.append(traceback.format_exc())
            raise
        finally:
            self.ops[kind].append(time.perf_counter() - t0)
            self.spans.append((kind, w0, time.time() * 1000.0))

    def check(self, what: str, ok: bool) -> None:
        """Count a failed correctness check against the last operation."""
        if not ok:
            self.failed += 1
            self.errors.append(f"check failed: {what}")


def set_up(wl, spark, inputs: dict, work: str) -> tuple[list[float], dict]:
    """SETUP_REPEATS set-ups of workload module `wl`: the seconds each
    took, and the state of the last (the earlier ones are torn down)."""
    times, state = [], None
    for _ in range(SETUP_REPEATS):
        if state is not None:
            wl.teardown(state)
        t0 = time.perf_counter()
        state = wl.setup(spark, inputs, work)
        times.append(time.perf_counter() - t0)
    return times, state


def play_round(fn, *args) -> Round:
    r = Round()
    r.start_ms = time.time() * 1000.0
    t0 = time.perf_counter()
    try:
        fn(r, *args)
    except Exception:
        if not r.errors:
            r.failed += 1
            r.attempted += 1
            r.errors.append(traceback.format_exc())
    r.wall = time.perf_counter() - t0
    r.end_ms = time.time() * 1000.0
    for e in r.errors:
        print(e, file=sys.stderr)
    return r
