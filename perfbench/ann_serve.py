"""ann_serve: serving and maintaining a persisted IVF-PQ index.

Set-up builds the index (IVFIndexStore.build with PQ codes) over a
Gaussian mixture whose cluster sizes are skewed: one hot cluster of
HOT_FACTOR times the mean and two cold ones, so maintenance_plan really
splits one cell and merges one pair. Each round loads a pristine copy
(outside the timed region) and runs

  search    SEARCH_BATCHES search() batches of QUERIES queries
  adc       ADC_BATCHES search_pq() batches of QUERIES queries
  maint     one maintenance pass: a held-out batch streamed in through
            index_embeddings_stream, then maintenance_plan + apply_plan

The warm-up makes one call of each kind instead of a whole round.

Read-mostly on the persisted store with writes on the same layer, so a
search gain that slows maintenance shows. nprobe / k = 1/8.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
from contextlib import contextmanager

NAME = "ann_serve"
WARMUP_ROUNDS = 1
K = 8
DIM = 16
N_VECTORS = 2000
HELD_OUT = 100
HOT_FACTOR = 3
COLD_SIZE = 25
QUERIES = 32
SEARCH_BATCHES = 2
ADC_BATCHES = 3
NPROBE = 1
TOPK = 10
PQ_CODES = 16
PQ_M = 4



def _unit(x):
    import numpy as np

    return x / np.linalg.norm(x, axis=1, keepdims=True)


def _expected_plan(vecs, cents) -> list[tuple]:
    """maintenance_plan's split/merge rule over a numpy cosine
    assignment (ties to the lower cell id)."""
    import numpy as np

    cell = np.argmax(_unit(vecs) @ _unit(cents).T, axis=1)
    counts = {c: int((cell == c).sum()) for c in range(len(cents))}
    total, k = sum(counts.values()), len(counts)
    hot = sorted((c for c, n in counts.items() if n * k > 2 * total),
                 key=lambda c: (-counts[c], c))
    plan = [("split", c, None, counts[c]) for c in hot]
    cold = sorted((c for c, n in counts.items() if n * k * 4 < total),
                  key=lambda c: (counts[c], c))
    for x, y in zip(cold[0::2], cold[1::2]):
        plan.append(("merge", min(x, y), max(x, y), counts[x] + counts[y]))
    return plan


def make_inputs(seed: int, work: str) -> dict:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    cents = rng.normal(scale=4.0, size=(K, DIM))
    mean = N_VECTORS // K
    sizes = [HOT_FACTOR * mean, COLD_SIZE, COLD_SIZE]
    rest = N_VECTORS - sum(sizes)
    sizes += [rest // (K - 3) + (i < rest % (K - 3)) for i in range(K - 3)]
    perm = rng.permutation(N_VECTORS)
    members = np.repeat(np.arange(K), sizes)[perm]
    vecs = cents[members] + rng.normal(size=(N_VECTORS, DIM))
    # held-out vectors all fall into one ordinary cluster: the pass
    # compacts one cell besides its split and merge
    held = cents[3] + rng.normal(size=(HELD_OUT, DIM))
    root = os.path.join(work, "inputs")
    os.makedirs(os.path.join(root, "heldout"))

    def table(ids, x):
        return pa.table({
            "vec_id": pa.array(ids, pa.int64()),
            "emb": pa.array(x.tolist(), pa.list_(pa.float64())),
        })

    corpus = os.path.join(root, "corpus.parquet")
    pq.write_table(table(np.arange(N_VECTORS), vecs), corpus)
    pq.write_table(
        table(np.arange(N_VECTORS, N_VECTORS + HELD_OUT), held),
        os.path.join(root, "heldout", "part-00000.parquet"),
    )
    # every batch draws QUERIES // K queries from each cluster, so each
    # batch probes the same cells whatever the seed
    per = QUERIES // K
    n_batches = SEARCH_BATCHES + ADC_BATCHES
    picks = np.stack([
        rng.choice(np.flatnonzero(members == c), size=n_batches * per,
                   replace=False).reshape(n_batches, per)
        for c in range(K)
    ], axis=1).reshape(n_batches, QUERIES)
    batches = [[(int(i), vecs[i].tolist()) for i in row] for row in picks]
    h = hashlib.sha256()
    for a in (cents, vecs, held, picks):
        h.update(a.tobytes())
    return {
        "corpus": corpus,
        "heldout_dir": os.path.join(root, "heldout"),
        "vecs": vecs,
        "cents": cents,
        "search_batches": batches[:SEARCH_BATCHES],
        "adc_batches": batches[SEARCH_BATCHES:],
        "plan": _expected_plan(np.vstack([vecs, held]), cents),
        "digest": h.hexdigest(),
        "sizes": {
            "vectors": N_VECTORS, "dim": DIM, "cells": K,
            "held_out": HELD_OUT, "queries_per_batch": QUERIES,
            "nprobe": NPROBE, "topk": TOPK,
        },
    }


def setup(spark, inputs: dict, work: str) -> dict:
    """IVFIndexStore.build with PQ codes into a fresh pristine dir."""
    from esvc_spark.operators.ann_store import IVFIndexStore

    base = tempfile.mkdtemp(prefix="ann-", dir=work)
    pristine = os.path.join(base, "pristine")
    cents = spark.createDataFrame(
        [(i, c.tolist()) for i, c in enumerate(inputs["cents"])],
        "cent_id bigint, cemb array<double>",
    )
    IVFIndexStore.build(
        spark, spark.read.parquet(inputs["corpus"]), pristine, k=K,
        centroids=cents, pq_codes=PQ_CODES, pq_m=PQ_M,
    )
    return {"base": base, "pristine": pristine, "live": os.path.join(base, "live")}


def teardown(state: dict) -> None:
    shutil.rmtree(state["base"], ignore_errors=True)


def _frames(spark, state: dict, inputs: dict):
    if "frames" not in state:
        schema = "query_id bigint, emb array<double>"
        state["frames"] = (
            [spark.createDataFrame(b, schema) for b in inputs["search_batches"]],
            [spark.createDataFrame(b, schema) for b in inputs["adc_batches"]],
        )
    return state["frames"]


@contextmanager
def _no_span(name):
    yield


def _index_shape(path: str, sample) -> None:
    """Parquet files per cell and bytes on disk (traced runs only)."""
    files = cells = size = 0
    for d, _, names in os.walk(path):
        size += sum(os.path.getsize(os.path.join(d, f)) for f in names)
        if os.path.basename(d).startswith("cell="):
            cells += 1
            files += sum(f.endswith(".parquet") for f in names)
    sample["ann_store.files_per_cell"].append(files / max(cells, 1))
    sample["ann_store.index_bytes"].append(size)


def _cell_rows(path: str) -> int:
    import pyarrow.parquet as pq

    n = 0
    for d, _, files in os.walk(os.path.join(path, "cells")):
        n += sum(
            pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
            for f in files if f.endswith(".parquet")
        )
    return n


def warm(r, spark, state: dict, inputs: dict) -> None:
    """Warm-up: one call of each operation kind; each kind's first call
    pays its plan compilation (warmup_trend.json). Its search probes every
    cell and must return the brute-force top-k: the correctness gate."""
    play(r, spark, state, inputs, batches=1, nprobe=K)


def play(
    r, spark, state: dict, inputs: dict, tracer=None, batches=None,
    nprobe=NPROBE,
) -> None:
    from esvc_spark.operators.ann_store import IVFIndexStore
    from esvc_spark.streaming.pipelines import index_embeddings_stream

    live = state["live"]
    shutil.rmtree(live, ignore_errors=True)
    shutil.copytree(state["pristine"], live)
    ckpt = os.path.join(state["base"], "ckpt")
    shutil.rmtree(ckpt, ignore_errors=True)
    searches, adcs = (f[:batches] for f in _frames(spark, state, inputs))
    store = IVFIndexStore.load(spark, live)
    span = tracer.span if tracer is not None else _no_span
    if tracer is not None:
        _index_shape(live, r.samples)
    for q, batch in zip(searches, inputs["search_batches"]):
        with r.op("search"), span("ann_store.search"):
            rows = store.search(q, nprobe=nprobe, topk=TOPK).collect()
        r.check("search returns topk rows per query", len(rows) == QUERIES * TOPK)
        if nprobe == K:
            r.check("search at nprobe=k equals numpy brute force",
                    _ids(rows) == brute_topk(inputs, batch))
    for q, batch in zip(adcs, inputs["adc_batches"]):
        with r.op("adc"), span("ann_store.search_pq"):
            rows = store.search_pq(q, nprobe=NPROBE, topk=TOPK).collect()
        r.check("search_pq returns topk rows per query", len(rows) == QUERIES * TOPK)
        if tracer is not None:
            exact = brute_topk(inputs, batch)
            hits = sum(row["neighbor_id"] in exact[row["query_id"]] for row in rows)
            r.samples["ann_store.adc_recall"].append(hits / (QUERIES * TOPK))
    with r.op("maint"):
        stream = spark.readStream.schema(
            "vec_id bigint, emb array<double>"
        ).parquet(inputs["heldout_dir"])
        index_embeddings_stream(stream, store, ckpt)
        plan = store.maintenance_plan()
        store.apply_plan(plan)
    r.check(
        "maintenance plan splits and merges as the numpy assignment says",
        [p for p in plan if p[0] != "compact"] == inputs["plan"],
    )
    r.check("maintenance keeps every vector",
            _cell_rows(live) == N_VECTORS + HELD_OUT)


def brute_topk(inputs: dict, batch) -> dict[int, list[int]]:
    """Exact cosine top-k per query over the corpus, excluding the query
    itself, ties to the lower id."""
    import numpy as np

    x = _unit(inputs["vecs"])
    out = {}
    for qid, emb in batch:
        sims = x @ _unit(np.array([emb]))[0]
        sims[qid] = -np.inf
        order = np.lexsort((np.arange(len(sims)), -sims))
        out[qid] = [int(i) for i in order[:TOPK]]
    return out


def _ids(rows) -> dict[int, list[int]]:
    got: dict[int, list[int]] = {}
    for row in sorted(rows, key=lambda x: (x["query_id"], x["rank"])):
        got.setdefault(row["query_id"], []).append(row["neighbor_id"])
    return got


def summarize(rounds, setup_s) -> tuple[dict, dict]:
    from .harness import median, tail

    search = [x for r in rounds for x in r.ops["search"]]
    adc = [x for r in rounds for x in r.ops["adc"]]
    maint = [x for r in rounds for x in r.ops["maint"]]
    queries = QUERIES * (len(search) + len(adc))
    roles = {
        "setup_s": median(setup_s),
        "op1_p50_s": median(search),
        "op2_p50_s": median(adc),
        "op3_p50_s": median(maint),
        "work_per_s": queries / (sum(search) + sum(adc)),
    }
    detail = {
        "setup_s": roles["setup_s"],
        "search_p50_s": roles["op1_p50_s"],
        "search_tail": tail(search),
        "adc_p50_s": roles["op2_p50_s"],
        "maint_s": roles["op3_p50_s"],
        "queries_per_s": roles["work_per_s"],
        "samples": {"search": search, "adc": adc, "maint": maint},
    }
    return roles, detail
