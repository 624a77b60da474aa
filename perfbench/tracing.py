"""The traced run: per-layer numbers for the same rounds.

Spans are recorded from this file, around the library's public functions
and methods (installed by monkeypatching for the traced rounds only).
Spans nest per thread: a span's self time is its duration minus the
time its child spans cover, so workcache.shelve_event.self_s excludes
the engine, graph and nested workcache calls it makes. Spark's own
layers come from the AppStatusStore (jobs, stages, task metrics) read
once through py4j after the timed rounds, attributed to rounds and
operations by submission time; the Python-worker layer from the SQL
metric "time to run Python workers"; the streaming layer from
StreamingQueryProgress records (see event_log_ingest).

Every traced run reports every per-layer metric; a layer the workload
bypasses reads 0.
"""

from __future__ import annotations

import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from .harness import median

# (owner path, attribute, span name, kind); kind is "method", "static"
# or "function" (a module-level function looked up at call time)
_TARGETS = [
    ("esvc_spark.core.workcache:WorkCache", "shelve_event", "workcache.shelve_event", "method"),
    ("esvc_spark.core.workcache:WorkCache", "try_merge", "workcache.try_merge", "method"),
    ("esvc_spark.core.workcache:WorkCache", "run_deps", "workcache.run_deps", "method"),
    ("esvc_spark.core.graph:Graph", "calculate_dependencies", "graph.calculate_dependencies", "method"),
    ("esvc_spark.core.graph:Graph", "fold_state", "graph.fold_state", "method"),
    ("esvc_spark.core.graph:Graph", "ensure_event", "graph.ensure_event", "method"),
    ("esvc_spark.core.spark_engine:SparkEngineBase", "commute_batch", "spark_engine.commute_batch", "method"),
    ("esvc_spark.core.spark_engine:SparkEngineBase", "run_event_transient", "spark_engine.run_event_transient", "method"),
    ("esvc_spark.core.spark_engine:SparkExEngine", "run_event_bare", "spark_engine.run_event_bare", "method"),
    ("esvc_spark.core.spark_engine:SparkDat", "create", "spark_engine.sparkdat_create", "static"),
    ("esvc_spark.core.spark_engine", "exclusive_prefix_sum", "spark_engine.exclusive_prefix_sum", "function"),
    ("esvc_spark.operators.ann_store:IVFIndexStore", "add", "ann_store.add", "method"),
    ("esvc_spark.operators.ann_store:IVFIndexStore", "split_cell", "ann_store.split_cell", "method"),
    ("esvc_spark.operators.ann_store:IVFIndexStore", "merge_cells", "ann_store.merge_cells", "method"),
    ("esvc_spark.operators.ann_store:IVFIndexStore", "compact_cells", "ann_store.compact_cells", "method"),
    ("esvc_spark.operators.ann_store:IVFIndexStore", "maintenance_plan", "ann_store.maintenance_plan", "method"),
    ("esvc_spark.operators.ann_store:IVFIndexStore", "cells", "ann_store.cells", "method"),
]
# search() and search_pq() return lazy frames; ann_serve spans each call
# together with the collect of its result as ann_store.search/search_pq.

# Operation kinds whose Spark jobs are counted separately.
OP_KINDS = ("shelve", "merge", "checkout", "ingest", "search", "adc", "maint")

# name -> (unit, better); the order is BENCHMARK.json's per_layer order
PER_LAYER = {
    "workcache.shelve_event.self_s": ("s", "lower"),
    "workcache.try_merge.self_s": ("s", "lower"),
    "workcache.run_deps.calls": ("count", "lower"),
    "workcache.memo_hit_ratio": ("ratio", "higher"),
    "graph.calculate_dependencies.calls": ("count", "lower"),
    "graph.calculate_dependencies.s": ("s", "lower"),
    "graph.fold_state.s": ("s", "lower"),
    "graph.ensure_event.calls": ("count", "lower"),
    "spark_engine.commute_batch.calls": ("count", "lower"),
    "spark_engine.commute_tests": ("count", "lower"),
    "spark_engine.independent_ratio": ("ratio", "higher"),
    "spark_engine.run_event_transient.calls": ("count", "lower"),
    "spark_engine.run_event_transient.s": ("s", "lower"),
    "spark_engine.run_event_bare.calls": ("count", "lower"),
    "spark_engine.run_event_bare.s": ("s", "lower"),
    "spark_engine.sparkdat_create.calls": ("count", "lower"),
    "spark_engine.sparkdat_create.s": ("s", "lower"),
    "spark_engine.exclusive_prefix_sum.calls": ("count", "lower"),
    "spark_engine.exclusive_prefix_sum.s": ("s", "lower"),
    "stream.add_batch_s": ("s", "lower"),
    "stream.query_planning_s": ("s", "lower"),
    "stream.wal_commit_s": ("s", "lower"),
    "stream.get_batch_s": ("s", "lower"),
    "stream.input_rows": ("count", "higher"),
    "stream.log_bytes": ("bytes", "lower"),
    "stream.log_files": ("count", "lower"),
    "stream.heads_rows": ("count", "lower"),
    "stream.hash_stage_s": ("s", "lower"),
    "ann_store.search.s": ("s", "lower"),
    "ann_store.search_pq.s": ("s", "lower"),
    "ann_store.add.s": ("s", "lower"),
    "ann_store.split_cell.s": ("s", "lower"),
    "ann_store.merge_cells.s": ("s", "lower"),
    "ann_store.compact_cells.s": ("s", "lower"),
    "ann_store.maintenance_plan.s": ("s", "lower"),
    "ann_store.cells.calls": ("count", "lower"),
    "ann_store.jobs_per_search": ("count", "lower"),
    "ann_store.input_bytes_per_search": ("bytes", "lower"),
    "ann_store.files_per_cell": ("count", "lower"),
    "ann_store.index_bytes": ("bytes", "lower"),
    "ann_store.adc_recall": ("ratio", "higher"),
    "spark.jobs": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    **{f"spark.jobs.{k}": ("count", "lower") for k in OP_KINDS},
    "spark.jobs.round_range": ("count", "lower"),
    "spark.job_union_s": ("s", "lower"),
    "spark.driver_gap_s": ("s", "lower"),
    "spark.executor_run_s": ("s", "lower"),
    "spark.executor_cpu_s": ("s", "lower"),
    "spark.jvm_gc_s": ("s", "lower"),
    "spark.shuffle_read_bytes": ("bytes", "lower"),
    "spark.shuffle_write_bytes": ("bytes", "lower"),
    "spark.input_bytes": ("bytes", "lower"),
    "spark.output_bytes": ("bytes", "lower"),
    "spark.spill_bytes": ("bytes", "lower"),
    "trace.overhead_frac": ("ratio", "lower"),
}


def _resolve(path: str):
    import importlib

    mod, _, cls = path.partition(":")
    obj = importlib.import_module(mod)
    return getattr(obj, cls) if cls else obj


class Tracer:
    """In-memory spans and counters; nothing is written until the run
    ends."""

    def __init__(self, spark):
        self.spark = spark
        self.local = threading.local()
        # (name, start_ms, duration_s, self_s)
        self.spans: list[tuple[str, float, float, float]] = []
        # (name, at_ms, n)
        self.counts: list[tuple[str, float, int]] = []
        self.patches: list[tuple[object, str, object]] = []
        self.info: dict = {}
        tracer = self

        class CountingMemo(dict):
            """WorkCache memo that counts lookups and hits."""

            def __contains__(self, key):
                hit = dict.__contains__(self, key)
                tracer.count("workcache.memo_lookups")
                if hit:
                    tracer.count("workcache.memo_hits")
                return hit

        self.memo = CountingMemo

    def count(self, name: str, n: int = 1) -> None:
        self.counts.append((name, time.time() * 1000.0, n))

    @contextmanager
    def span(self, name: str):
        stack = self.local.__dict__.setdefault("stack", [])
        frame = [0.0]  # time covered by child spans
        stack.append(frame)
        start_ms = time.time() * 1000.0
        t0 = time.perf_counter()
        try:
            yield
        finally:
            dur = time.perf_counter() - t0
            stack.pop()
            if stack:
                stack[-1][0] += dur
            self.spans.append((name, start_ms, dur, dur - frame[0]))

    def _wrapped(self, fn, name):
        tracer = self
        after = self._commute_counts if name == "spark_engine.commute_batch" else None

        def wrapper(*args, **kwargs):
            with tracer.span(name):
                out = fn(*args, **kwargs)
            if after is not None:
                after(out)
            return out

        wrapper.__wrapped__ = fn
        return wrapper

    def _commute_counts(self, verdicts: dict) -> None:
        self.count("spark_engine.commute_tests", len(verdicts))
        self.count("spark_engine.independent", sum(map(bool, verdicts.values())))

    def install(self) -> None:
        for path, attr, name, kind in _TARGETS:
            owner = _resolve(path)
            raw = owner.__dict__[attr]
            fn = raw.__func__ if kind == "static" else raw
            new = self._wrapped(fn, name)
            setattr(owner, attr, staticmethod(new) if kind == "static" else new)
            self.patches.append((owner, attr, raw))

    def uninstall(self) -> None:
        for owner, attr, raw in reversed(self.patches):
            setattr(owner, attr, raw)
        self.patches.clear()


# ------------------------------------------------------ Spark status store


def _opt_ms(opt) -> float | None:
    return float(opt.get().getTime()) if opt.isDefined() else None


def _spark_jobs_and_stages(spark):
    """Every retained job and completed stage attempt, read once."""
    jsc = spark.sparkContext._jsc.sc()
    try:
        jsc.listenerBus().waitUntilEmpty()
    except Exception:
        time.sleep(1.0)  # let the status store drain its event queue
    store = jsc.statusStore()
    jobs = []
    it = store.jobsList(None).iterator()
    while it.hasNext():
        j = it.next()
        sub, end = _opt_ms(j.submissionTime()), _opt_ms(j.completionTime())
        ids = j.stageIds()
        stage_ids = [ids.apply(i) for i in range(ids.size())]
        if sub is not None:
            jobs.append((sub, end if end is not None else sub, stage_ids))
    gw = spark.sparkContext._gateway
    stages: dict[int, dict] = {}
    it = store.stageList(
        None, False, False, gw.new_array(gw.jvm.double, 0),
        gw.jvm.java.util.ArrayList(),
    ).iterator()
    while it.hasNext():
        s = it.next()
        if str(s.status().toString()) != "COMPLETE":
            continue
        st = stages.setdefault(s.stageId(), defaultdict(float))
        st["stages"] += 1
        st["tasks"] += s.numCompleteTasks()
        st["run_s"] += s.executorRunTime() / 1e3
        st["cpu_s"] += s.executorCpuTime() / 1e9
        st["gc_s"] += s.jvmGcTime() / 1e3
        st["shuffle_read"] += s.shuffleReadBytes()
        st["shuffle_write"] += s.shuffleWriteBytes()
        st["input"] += s.inputBytes()
        st["output"] += s.outputBytes()
        st["spill"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
    return jobs, stages


_UNITS = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def _python_worker_s(spark) -> list[tuple[float, float]]:
    """(submission ms, seconds) per SQL execution: the total of its
    "time to run Python workers" plan metrics (mapInPandas and friends)."""
    sql = spark._jsparkSession.sharedState().statusStore()
    out = []
    it = sql.executionsList().iterator()
    while it.hasNext():
        e = it.next()
        ms = e.metrics()
        ids = {
            ms.apply(i).accumulatorId() for i in range(ms.size())
            if ms.apply(i).name() == "time to run Python workers"
        }
        if not ids:
            continue
        total = 0.0
        vit = sql.executionMetrics(e.executionId()).iterator()
        while vit.hasNext():
            kv = vit.next()
            if kv._1() in ids:
                # "total (min, med, max ...)\n1.2 s (...)" or "1.2 s"
                num, unit = kv._2().split("\n")[-1].split()[:2]
                total += float(num.replace(",", "")) * _UNITS.get(unit, 0.0)
        out.append((float(e.submissionTime()), total))
    return out


def _union_s(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total / 1e3


def _in(t: float, lo: float, hi: float) -> bool:
    return lo <= t <= hi


def layer_metrics(tracer: Tracer, timed, ref) -> dict:
    jobs, stages = _spark_jobs_and_stages(tracer.spark)
    python_s = _python_worker_s(tracer.spark)
    per_round: dict[str, list[float]] = defaultdict(list)
    pooled: dict[str, list[float]] = defaultdict(list)
    totals: dict[str, float] = defaultdict(float)
    for r in timed:
        lo, hi = r.start_ms, r.end_ms
        acc: dict[str, float] = defaultdict(float)
        for name, start, dur, self_s in tracer.spans:
            if _in(start, lo, hi):
                acc[f"{name}.calls"] += 1
                acc[f"{name}.s"] += dur
                acc[f"{name}.self_s"] += self_s
        for name, at, n in tracer.counts:
            if _in(at, lo, hi):
                acc[name] += n
                totals[name] += n
        rj = [j for j in jobs if _in(j[0], lo, hi)]
        acc["spark.jobs"] = len(rj)
        acc["spark.job_union_s"] = _union_s((j[0], j[1]) for j in rj)
        acc["spark.driver_gap_s"] = r.wall - acc["spark.job_union_s"]
        for sid in {s for j in rj for s in j[2]}:
            for k, v in stages.get(sid, {}).items():
                acc[f"stage.{k}"] += v
        for kind in OP_KINDS:
            acc[f"spark.jobs.{kind}"] = sum(
                1 for j in rj
                if any(k == kind and _in(j[0], a, b) for k, a, b in r.spans)
            )
        n_search = len(r.ops["search"])
        if n_search:
            acc["ann_store.jobs_per_search"] = acc["spark.jobs.search"] / n_search
            acc["ann_store.input_bytes_per_search"] = sum(
                stages.get(s, {}).get("input", 0.0)
                for j in rj for s in j[2]
                if any(k == "search" and _in(j[0], a, b) for k, a, b in r.spans)
            ) / n_search
        acc["stream.input_rows"] = sum(r.samples.get("input_rows", []))
        acc["stream.hash_stage_s"] = sum(v for t, v in python_s if _in(t, lo, hi))
        for k, v in acc.items():
            per_round[k].append(v)
        for k, xs in r.samples.items():
            pooled[k].extend(xs)

    def rnd(key):
        xs = per_round.get(key)
        return median(xs) if xs else 0.0

    def pool(key):
        xs = pooled.get(key)
        return median(xs) if xs else 0.0

    def ratio(num, den):
        return totals[num] / totals[den] if totals.get(den) else 0.0

    # the untraced reference round must issue the same jobs as the traced
    jobs_per_round = [
        sum(1 for j in jobs if _in(j[0], r.start_ms, r.end_ms))
        for r in ([ref] if ref is not None else []) + list(timed)
    ]
    ref_wall = ref.wall if ref is not None else None
    out = {
        "workcache.memo_hit_ratio": ratio("workcache.memo_hits", "workcache.memo_lookups"),
        "spark_engine.independent_ratio": ratio(
            "spark_engine.independent", "spark_engine.commute_tests"),
        "stream.add_batch_s": pool("add_batch_s"),
        "stream.query_planning_s": pool("query_planning_s"),
        "stream.wal_commit_s": pool("wal_commit_s"),
        "stream.get_batch_s": pool("get_batch_s"),
        "spark.stages": rnd("stage.stages"),
        "spark.tasks": rnd("stage.tasks"),
        "spark.jobs.round_range": max(jobs_per_round) - min(jobs_per_round),
        "spark.executor_run_s": rnd("stage.run_s"),
        "spark.executor_cpu_s": rnd("stage.cpu_s"),
        "spark.jvm_gc_s": rnd("stage.gc_s"),
        "spark.shuffle_read_bytes": rnd("stage.shuffle_read"),
        "spark.shuffle_write_bytes": rnd("stage.shuffle_write"),
        "spark.input_bytes": rnd("stage.input"),
        "spark.output_bytes": rnd("stage.output"),
        "spark.spill_bytes": rnd("stage.spill"),
        "trace.overhead_frac": (
            median([r.wall for r in timed]) / ref_wall - 1.0 if ref_wall else 0.0
        ),
    }
    # the rest are per-round medians under their own name, or medians of
    # the samples the workload recorded under it
    for name in PER_LAYER:
        out.setdefault(name, rnd(name) if name in per_round else pool(name))
    tracer.info = {
        "spark.jobs_per_round": jobs_per_round,
        "spans": len(tracer.spans),
        "ref_round_s": ref_wall,
    }
    return {k: {"value": float(out[k]), "unit": PER_LAYER[k][0]} for k in PER_LAYER}
