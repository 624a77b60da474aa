"""edit_session: an ed-style editing session through SparkExEngine.

Each round starts from a fresh Graph/WorkCache over the same persisted
init dataset and does, in order:

  shelve    shelve_event for every event of two branches
            A: s/fast/slowed/ then s/slowed/SLOW!/ (a dependent substitute)
            B: append a trailer after the last line, then delete /blue/
            (which also removes the trailer, so it depends on the
            append); B is independent of A; the append and the delete
            renumber
  merge     try_merge of the two branch tips (re-shelving each tip onto
            both branches runs commute_batch with two candidates)
  checkout  run_foreach_recursively on a fresh WorkCache from init, then
            the lines of the result; CHECKOUTS times, each from scratch

Driver-orchestrated and job-floor-bound: it exercises core.workcache,
core.graph and core.spark_engine and bypasses streaming, disk writes and
the ANN store.
"""

from __future__ import annotations

import hashlib
import json
import random

NAME = "edit_session"
WARMUP_ROUNDS = 1
N_LINES = 2000
WORDS_PER_LINE = 4
VOCAB = (
    "fast", "slow", "blue", "red", "tree", "rock",
    "wind", "lake", "sun", "moon", "ash", "oak",
)
TRAILER = "-- blue trailer"
# a checkout takes under a second, short enough for one burst on a shared
# host to swamp it: take the median of three per round
CHECKOUTS = 3



def _script():
    from esvc_spark.core.exparse import make_command

    every = {"type": "rngf", "start": 0}
    branch_a = [
        make_command(every, "substitute", ["fast", "slowed"]),
        make_command(every, "substitute", ["slowed", "SLOW!"]),
    ]
    branch_b = [
        make_command({"type": "last"}, "append", [TRAILER]),
        make_command({"type": "rgx", "pattern": "blue"}, "delete"),
    ]
    return [branch_a, branch_b]


def make_inputs(seed: int, work: str) -> dict:
    """Generated lines plus the pure-Python ExEngine fold of the script
    (the independent answer every checkout is compared with)."""
    from esvc_spark.core.engines import ExEngine

    rng = random.Random(seed)
    lines = [
        " ".join(rng.choice(VOCAB) for _ in range(WORDS_PER_LINE))
        for _ in range(N_LINES)
    ]
    script = _script()
    expected = tuple(lines)
    ex = ExEngine()
    for branch in script:
        for arg in branch:
            expected = ex.run_event_bare(0, arg, expected)
    digest = hashlib.sha256(
        json.dumps([lines, script], sort_keys=True).encode()
    ).hexdigest()
    return {
        "lines": lines,
        "script": script,
        "expected": list(expected),
        "digest": digest,
        "sizes": {"lines": N_LINES, "events": sum(map(len, script))},
    }


def setup(spark, inputs: dict, work: str) -> dict:
    """The persisted init dataset (createDataFrame + persist + one
    fingerprint job)."""
    from esvc_spark.core.spark_engine import SparkExEngine

    eng = SparkExEngine(spark)
    return {"eng": eng, "init": eng.init_data(inputs["lines"])}


def teardown(state: dict) -> None:
    state["eng"].release(state["init"])


def play(r, spark, state: dict, inputs: dict, tracer=None) -> None:
    from esvc_spark.core import Event, Graph, IncludeSpec, WorkCache

    memo = tracer.memo if tracer is not None else dict

    eng, init = state["eng"], state["init"]
    g = Graph()
    wc = WorkCache(eng, init, sts=memo())
    heads: set[bytes] = set()
    try:
        for branch in inputs["script"]:
            seed: set[bytes] = set()
            for arg in branch:
                with r.op("shelve"):
                    h = wc.shelve_event(g, set(seed), Event(cmd=0, arg=arg))
                r.check("shelve_event returned a hash", h is not None)
                seed.add(h)
                heads.add(h)
        with r.op("merge"):
            wc.try_merge(g, set(heads))
        for _ in range(CHECKOUTS):
            checkout = WorkCache(eng, init, sts=memo())
            try:
                with r.op("checkout"):
                    tips = g.fold_state({h: False for h in heads}, expand=False)
                    final, _ = checkout.run_foreach_recursively(
                        g, {h: IncludeSpec.INCLUDE_ALL for h in tips}
                    )
                    lines = eng.lines(final)
                r.check("checkout equals the ExEngine fold",
                        lines == inputs["expected"])
            finally:
                checkout.prune()
    finally:
        wc.prune()


def summarize(rounds, setup_s) -> tuple[dict, dict]:
    from .harness import median

    per = {k: [sum(r.ops[k]) for r in rounds] for k in ("shelve", "merge")}
    per["checkout"] = [x for r in rounds for x in r.ops["checkout"]]
    events = sum(len(r.ops["shelve"]) for r in rounds)
    wall = sum(r.wall for r in rounds)
    roles = {
        "setup_s": median(setup_s),
        "op1_p50_s": median(per["shelve"]),
        "op2_p50_s": median(per["merge"]),
        "op3_p50_s": median(per["checkout"]),
        "work_per_s": events / wall,
    }
    detail = {
        "setup_s": roles["setup_s"],
        "shelve_s": roles["op1_p50_s"],
        "merge_s": roles["op2_p50_s"],
        "checkout_s": roles["op3_p50_s"],
        "events_per_s": roles["work_per_s"],
        "samples": per,
    }
    return roles, detail
