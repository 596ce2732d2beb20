"""curation_ticks: `StreamingCurationFunnel.process_batch` ticks and one
`publish()`. Runnable with the same command; BENCHMARK.json does not list
it (README.md says why), so its metric names live here.

Arrivals are seeded batches of BATCH documents (fixtures.make_documents,
the sf0.1 document shape) with a fixed share of exact duplicates of
earlier arrivals, and every document has an embedding row (a share of them
near-copies of an earlier document's vector). Set-up preloads PRELOAD
documents as one batch (which trains the semantic quantizer) and runs one
warm-up tick; the window is a fixed number of ticks derived from --seconds,
then one timed publish.

Output check (untimed): the published funnel counts must equal the stored
expectation for the seed (`curation_expected.json`, keyed by seed and
window size). Each stored entry was recorded from a run in which the
published funnel equalled the batch CLI (`run_pipeline`) over the same
documents with the funnel's persisted quantizer -- the contract
tests/test_funnel_stream.py pins and test_perfbench.py checks on a small
slice. A seed with no stored entry is checked against `run_pipeline`
directly, which adds about 20 s of untimed work to the run.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow.parquet as pq

import fixtures
from harness import SparkCounters, metric, percentile

BATCH = 250
PRELOAD = 1000
WARM_TICKS = 1
EXACT_DUP_SHARE = 0.1
SEMANTIC_DUP_SHARE = 0.1
NOMINAL_TICK_S = 10.0
MIN_WINDOW_TICKS = 2


EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "curation_expected.json")

END_TO_END = {"setup_s": "s", "op_p50_ms": "ms", "publish_s": "s"}
PUBLISH_STEPS = ("counts", "exact", "near", "semantic", "finish",
                 "major_compact")
COUNTS = ("spark.jobs_per_tick", "spark.tasks_per_tick",
          "spark.jobs_per_publish") + tuple(
              f"funnel.publish.{k}_s" for k in PUBLISH_STEPS)
SPAN_LAYERS = ("funnel.gate_ms", "funnel.store_ms", "funnel.near_ms",
               "funnel.sem_ms", "funnel.merge_ms", "funnel.self_ms",
               "traced.tick_ms")
PER_LAYER = {
    **{n: ("s" if n.endswith("_s") else "count") for n in COUNTS},
    **{n: "ms" for n in SPAN_LAYERS},
    "trace.self_sum_err_pct": "%", "trace.span_cost_us": "us",
    "host.probe_ms": "ms",
}
# funnel.merge fires only on ticks where a maintainer folds its tail
SPANS = ("funnel.process_batch", "funnel.gate", "sink.upsert",
         "funnel.near", "funnel.sem")


def window_ticks(seconds: int) -> int:
    return max(MIN_WINDOW_TICKS, round(seconds / NOMINAL_TICK_S))


def write_arrivals(path_docs: str, path_emb: str, seed: int, n: int) -> None:
    """`n` arriving documents (doc_id 0..n-1) and their embedding rows."""
    rng = np.random.default_rng([seed, 6])
    cols = fixtures.make_documents(seed, n)
    for i in range(1, n):
        if rng.random() < EXACT_DUP_SHARE:
            j = int(rng.integers(0, i))
            cols["text"][i] = cols["text"][j]
            cols["n_chars"][i] = cols["n_chars"][j]
    pq.write_table(fixtures.doc_table(cols), path_docs)
    labels = rng.integers(0, fixtures.N_LABELS, n)
    noise = np.full(n, 0.6)
    dup_of = np.arange(n)
    for i in range(1, n):
        if rng.random() < SEMANTIC_DUP_SHARE:
            dup_of[i] = int(rng.integers(0, i))
            noise[i] = 0.02
    labels = labels[dup_of]
    emb = fixtures.embedding_rows(seed, np.arange(n), labels, noise)
    pq.write_table(emb, path_emb)


def install_spans(tracer) -> None:
    from moc_indexer_spark.streaming import funnel as funnel_mod
    from moc_indexer_spark.streaming.corpus import IncrementalNearDup
    from moc_indexer_spark.streaming.semdedup_stream import (
        IncrementalSemDeDup,
    )
    from moc_indexer_spark.streaming.sink import ParquetUpsertTable

    tracer.wrap(funnel_mod.StreamingCurationFunnel, "process_batch",
                "funnel.process_batch")
    tracer.wrap(funnel_mod, "quality_gate", "funnel.gate")
    tracer.wrap(ParquetUpsertTable, "upsert", "sink.upsert")
    tracer.wrap(ParquetUpsertTable, "compact_deltas", "funnel.merge")
    tracer.wrap(IncrementalNearDup, "update", "funnel.near")
    tracer.wrap(IncrementalSemDeDup, "update", "funnel.sem")
    tracer.wrap(IncrementalSemDeDup, "train", "funnel.sem")


def _span_metrics(tracer) -> dict:
    from tracing import self_times

    per: dict[str, list[float]] = {}
    for spans in tracer.by_op().values():
        if spans[0]["kind"] != "tick":
            continue
        st = self_times(spans)
        pb = [s for s in spans if s["name"] == "funnel.process_batch"]
        pb_ids = {s["id"] for s in pb}
        sums = {"funnel.gate_ms": 0.0, "funnel.store_ms": 0.0,
                "funnel.near_ms": 0.0, "funnel.sem_ms": 0.0,
                "funnel.merge_ms": 0.0}
        for s in spans:
            dur = (s["end"] - s["start"]) * 1000.0
            if s["name"] == "sink.upsert" and s["parent"] in pb_ids:
                sums["funnel.store_ms"] += dur  # the funnel's own tables
            elif s["name"] in ("funnel.gate", "funnel.near", "funnel.sem",
                               "funnel.merge"):
                sums[s["name"] + "_ms"] += dur
        sums["funnel.self_ms"] = sum(st[s["id"]] for s in pb)
        sums["traced.tick_ms"] = sum((s["end"] - s["start"]) * 1000.0
                                     for s in pb)
        for k, v in sums.items():
            per.setdefault(k, []).append(v)
    return {k: percentile(v, 50) for k, v in per.items()}


def run(ctx) -> dict:
    from pyspark.sql import functions as F

    from moc_indexer_spark.llm_pipeline import run_pipeline
    from moc_indexer_spark.streaming.funnel import StreamingCurationFunnel

    spark = ctx.spark
    n_ticks = window_ticks(ctx.seconds)
    n_docs = PRELOAD + (WARM_TICKS + n_ticks) * BATCH
    docs_path = os.path.join(ctx.scratch, "arrivals.parquet")
    emb_path = os.path.join(ctx.scratch, "embeddings.parquet")
    write_arrivals(docs_path, emb_path, ctx.seed, n_docs)
    docs = spark.read.parquet(docs_path).select(
        "doc_id", "text", "lang", "source")
    state = os.path.join(ctx.scratch, "funnel_state")
    funnel = StreamingCurationFunnel(
        spark, state, embeddings_path=emb_path, compact_every=16,
        expected_corpus_rows=n_docs,
    )
    if ctx.tracer is not None:
        install_spans(ctx.tracer)
    counters = SparkCounters(spark)
    clock = ctx.clock

    def batch(lo: int, hi: int):
        return docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))

    funnel.process_batch(batch(0, PRELOAD), 0)
    lo = PRELOAD
    for b in range(1, WARM_TICKS + 1):
        funnel.process_batch(batch(lo, lo + BATCH), b)
        lo += BATCH
    setup_s = clock() - ctx.t_start
    ctx.log("set-up done")

    tick_ms: list[float] = []
    per_tick: list[dict] = []
    counters.take()
    for b in range(WARM_TICKS + 1, WARM_TICKS + 1 + n_ticks):
        with ctx.op("tick", True):
            t0 = clock()
            funnel.process_batch(batch(lo, lo + BATCH), b)
            tick_ms.append((clock() - t0) * 1000.0)
        per_tick.append(counters.take())
        lo += BATCH
    timings: dict = {}
    out_stream = os.path.join(ctx.scratch, "out_stream")
    with ctx.op("publish", True):
        t0 = clock()
        published = funnel.publish(out_stream, timings=timings)
        publish_s = clock() - t0
    jobs_publish = counters.take()["jobs"]
    ctx.log("window done")

    counts = {k: v for k, v in published.items() if isinstance(v, int)}
    key = f"{ctx.seed}/{n_docs}"
    with open(EXPECTED_PATH) as fh:
        want = json.load(fh).get(key)
    if want is None:
        batch_out = run_pipeline(
            spark, docs_path, os.path.join(ctx.scratch, "out_batch"),
            near_dedup=True, near_method="minhash", semantic_dedup=emb_path,
            semantic_centroids=os.path.join(state, "sem", "_model.json"),
        )
        want = {k: v for k, v in batch_out.items() if isinstance(v, int)}
        ctx.log(f"no stored expectation for {key}; checked against "
                "run_pipeline")
    errors = []
    if counts != want:
        errors.append(f"published funnel counts {counts} differ from the "
                      f"expected {want}")
    ctx.log("checks done")

    layers = {
        "spark.jobs_per_tick": sum(c["jobs"] for c in per_tick) / n_ticks,
        "spark.tasks_per_tick": sum(c["tasks"] for c in per_tick) / n_ticks,
        "spark.jobs_per_publish": float(jobs_publish),
    }
    for k, v in timings.items():
        layers[f"funnel.publish.{k}_s"] = float(v)
    if ctx.tracer is not None:
        layers.update(_span_metrics(ctx.tracer))
    return {
        "errors": errors,
        "attempted": n_ticks + 1,
        "end_to_end": {
            "setup_s": metric(setup_s, "s"),
            "op_p50_ms": metric(percentile(tick_ms, 50), "ms"),
            "publish_s": metric(publish_s, "s"),
        },
        "layers": layers,
        "samples": {"ticks": n_ticks, "docs": n_docs,
                    "tick_ms": [round(x, 1) for x in tick_ms],
                    "funnel": counts, "expectation_key": key},
    }
