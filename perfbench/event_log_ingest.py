"""event_log_ingest: event_log_stream_pipeline onto a large history log.

Set-up ingests a history log through the same pipeline in one large
micro-batch. Each round restores that history from its pristine copy
(outside the timed region) and then streams FILES equal files onto it,
maxFilesPerTrigger=1, from a fresh checkpoint: one pipeline call, one
micro-batch per file.

Write-heavy with Python-worker hashing and parquet appends. The history
is HISTORY_FACTOR times the streamed part, so the costs that grow with
the log (the anti-join against the whole log, _superseded compaction,
the heads rewrite) show against a small batch. Bypasses shelve.

Per-batch latencies come from StreamingQueryProgress (triggerExecution),
read by a StreamingQueryListener from outside the library.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
import threading
import time
from datetime import datetime

NAME = "event_log_ingest"
WARMUP_ROUNDS = 1
# two timed rounds: one round's four micro-batches spread too much
MIN_ROUNDS = 2
FILES = 3
EVENTS_PER_FILE = 150
HISTORY_FACTOR = 20
EVENT_TYPES = ("click", "view", "purchase", "share")



def _heads_rule(ids: set[int]) -> set[int]:
    """q_stream_event_log's closed form: an id is a head unless its chain
    successor (id + 16) exists and names it as a dependency, which every
    generation does except each third one."""
    return {
        i for i in ids
        if not (i + 16 in ids and ((i + 16) // 16) % 3 != 0)
    }


def make_inputs(seed: int, work: str) -> dict:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    streamed = FILES * EVENTS_PER_FILE
    total = streamed * (HISTORY_FACTOR + 1)
    # sparse ids in shuffled order: streamed events land between history
    # events, so supersession is tested by presence, never by density
    ids = rng.choice(2 * total, size=total, replace=False).astype("int64")
    types = rng.choice(len(EVENT_TYPES), size=total)
    users = rng.integers(0, 5000, size=total).astype("int64")
    values = rng.random(total)
    root = os.path.join(work, "inputs")
    hist_dir = os.path.join(root, "history")
    stream_dir = os.path.join(root, "stream")
    os.makedirs(hist_dir)
    os.makedirs(stream_dir)

    def write(path, lo, hi):
        pq.write_table(
            pa.table({
                "event_id": ids[lo:hi],
                "user_id": users[lo:hi],
                "event_type": [EVENT_TYPES[t] for t in types[lo:hi]],
                "value": values[lo:hi],
            }),
            path,
        )

    n_hist = total - streamed
    write(os.path.join(hist_dir, "part-00000.parquet"), 0, n_hist)
    for f in range(FILES):
        lo = n_hist + f * EVENTS_PER_FILE
        write(
            os.path.join(stream_dir, f"part-{f:05d}.parquet"),
            lo, lo + EVENTS_PER_FILE,
        )
    h = hashlib.sha256()
    for a in (ids, types, users, values):
        h.update(a.tobytes())
    universe = {int(i) for i in ids}
    return {
        "history_dir": hist_dir,
        "stream_dir": stream_dir,
        "universe": universe,
        "heads": _heads_rule(universe),
        "digest": h.hexdigest(),
        "sizes": {
            "history_events": n_hist,
            "streamed_events": streamed,
            "files": FILES,
        },
    }


class _Progress:
    """StreamingQueryListener sink: progress records per query run."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        self.lock = threading.Lock()
        self.started: list[str] = []
        self.by_run: dict[str, list] = {}
        self.on_batch = None
        sink = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                with sink.lock:
                    sink.started.append(str(event.runId))

            def onQueryProgress(self, event):
                p = event.progress
                with sink.lock:
                    sink.by_run.setdefault(str(p.runId), []).append(p)
                if sink.on_batch is not None and p.numInputRows > 0:
                    sink.on_batch(p)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = Listener()
        spark.streams.addListener(self.listener)

    def batches(self, run_id: str, n: int, timeout: float = 20.0) -> list:
        """The n progress records with input rows of one run; progress
        events arrive asynchronously, so wait for them."""
        deadline = time.monotonic() + timeout
        while True:
            with self.lock:
                got = [
                    p for p in self.by_run.get(run_id, [])
                    if p.numInputRows > 0
                ]
            if len(got) >= n or time.monotonic() > deadline:
                return got
            time.sleep(0.005)

    def run_started_after(self, k: int, timeout: float = 20.0) -> str | None:
        deadline = time.monotonic() + timeout
        while True:
            with self.lock:
                if len(self.started) > k:
                    return self.started[k]
            if time.monotonic() > deadline:
                return None
            time.sleep(0.005)


def setup(spark, inputs: dict, work: str) -> dict:
    """History ingest: the whole history file as one micro-batch through
    event_log_stream_pipeline into a fresh pristine log."""
    from esvc_spark.streaming.pipelines import (
        event_log_stream_pipeline,
        read_events_stream,
    )

    base = tempfile.mkdtemp(prefix="ingest-", dir=work)
    pristine = os.path.join(base, "pristine")
    event_log_stream_pipeline(
        read_events_stream(spark, inputs["history_dir"]),
        work_dir=pristine,
        checkpoint_dir=os.path.join(base, "ckpt-history"),
    )
    return {
        "base": base,
        "pristine": pristine,
        "live": os.path.join(base, "live"),
        "progress": _Progress(spark),
        "spark": spark,
    }


def teardown(state: dict) -> None:
    state["spark"].streams.removeListener(state["progress"].listener)
    shutil.rmtree(state["base"], ignore_errors=True)


def _read_ids(path: str, col: str) -> list[int]:
    import pyarrow.parquet as pq

    return pq.read_table(path, columns=[col]).column(col).to_pylist()


def _check_state(r, live: str, inputs: dict) -> None:
    log_ids = _read_ids(os.path.join(live, "events_log"), "src_id")
    r.check(
        "log holds each event exactly once",
        len(log_ids) == len(inputs["universe"])
        and set(log_ids) == inputs["universe"],
    )
    heads = set(_read_ids(os.path.join(live, "heads"), "head_src"))
    r.check(
        "minimized heads equal the closed form",
        heads <= inputs["universe"] and heads & inputs["heads"] == inputs["heads"],
    )


def _state_size(live: str, sample) -> None:
    """Log bytes/files and heads rows after a batch (traced runs only)."""
    import pyarrow.parquet as pq

    try:
        log = os.path.join(live, "events_log")
        files = [f for f in os.listdir(log) if f.endswith(".parquet")]
        sample["stream.log_files"].append(len(files))
        sample["stream.log_bytes"].append(
            sum(os.path.getsize(os.path.join(log, f)) for f in files)
        )
        heads = os.path.join(live, "heads")
        sample["stream.heads_rows"].append(sum(
            pq.ParquetFile(os.path.join(heads, f)).metadata.num_rows
            for f in os.listdir(heads) if f.endswith(".parquet")
        ))
    except OSError:
        pass  # the next batch is swapping the heads directory


def play(r, spark, state: dict, inputs: dict, tracer=None) -> None:
    from esvc_spark.streaming.pipelines import (
        event_log_stream_pipeline,
        read_events_stream,
    )

    live, prog = state["live"], state["progress"]
    shutil.rmtree(live, ignore_errors=True)
    shutil.copytree(state["pristine"], live)
    if tracer is not None:
        prog.on_batch = lambda p: _state_size(live, r.samples)
    try:
        ckpt = os.path.join(state["base"], "ckpt")
        shutil.rmtree(ckpt, ignore_errors=True)
        k = len(prog.started)
        t0 = time.time()
        with r.op("ingest"):
            event_log_stream_pipeline(
                read_events_stream(spark, inputs["stream_dir"], 1),
                work_dir=live,
                checkpoint_dir=ckpt,
            )
        run_id = prog.run_started_after(k)
        got = prog.batches(run_id, FILES) if run_id else []
        r.check("one micro-batch per file", len(got) == FILES)
        for p in got:
            d = p.durationMs
            r.samples["trigger_s"].append(d["triggerExecution"] / 1e3)
            r.samples["add_batch_s"].append(d.get("addBatch", 0) / 1e3)
            r.samples["query_planning_s"].append(d.get("queryPlanning", 0) / 1e3)
            r.samples["wal_commit_s"].append(d.get("walCommit", 0) / 1e3)
            r.samples["get_batch_s"].append(d.get("getBatch", 0) / 1e3)
            r.samples["input_rows"].append(p.numInputRows)
        if got:
            first = datetime.fromisoformat(
                got[0].timestamp.replace("Z", "+00:00")
            ).timestamp()
            r.samples["first_batch_wait_s"].append(first - t0)
        _check_state(r, live, inputs)
    finally:
        prog.on_batch = None


def summarize(rounds, setup_s) -> tuple[dict, dict]:
    from .harness import median, tail

    def pooled(key):
        return [x for r in rounds for x in r.samples[key]]

    batches = pooled("trigger_s")
    calls = [x for r in rounds for x in r.ops["ingest"]]
    wait = pooled("first_batch_wait_s")
    roles = {
        "setup_s": median(setup_s),
        "op1_p50_s": median(batches),
        "op2_p50_s": median(calls),
        "op3_p50_s": median(wait),
        "work_per_s": FILES * EVENTS_PER_FILE / median(calls),
    }
    detail = {
        "setup_s": roles["setup_s"],
        "events_per_s": roles["work_per_s"],
        "batch_p50_s": roles["op1_p50_s"],
        "batch_tail": tail(batches),
        "call_s": roles["op2_p50_s"],
        "first_batch_wait_s": roles["op3_p50_s"],
        "samples": {"batches": batches, "calls": calls,
                    "first_batch_wait": wait},
    }
    return roles, detail
