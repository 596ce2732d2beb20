"""Tests of the benchmark's own parts: the seeded inputs, the tracing
arithmetic and the curation check's stream == batch contract.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import os

import api_reads
import fixtures
import seeded_chain as chain_mod
import tracing

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_seeded_chain_feeds_every_tick_sink():
    ch = chain_mod.SeededChain(3)
    events = {log["event_name"] for b in range(40) for tx in ch(b)
              for log in tx["logs"]}
    assert {"NewBitcoinTransfer", "BitcoinTransferStatusUpdated",
            "StateTransition", "Transfer"} <= events
    assert events & set(chain_mod.EXCHANGE_EVENTS)
    counts = chain_mod.expected_rows(ch, 200)["counts"]
    assert set(counts) == {"raw_transactions", "transactions", "transfers",
                           "fastbtc", "notifications"}
    assert all(n > 0 for n in counts.values())


def test_seeded_chain_status_does_not_depend_on_account():
    ch = chain_mod.SeededChain(5)
    confirmed = {tx["from"] for b in range(300) for tx in ch(b)
                 if tx["status"] == "confirmed"}
    reverted = sum(tx["status"] == "reverted"
                   for b in range(300) for tx in ch(b))
    assert confirmed == set(ch.users)
    assert 0 < reverted < 300 * chain_mod.TXS_PER_BLOCK // 10


def test_seeded_inputs_repeat_for_a_seed():
    a, b = chain_mod.SeededChain(9), chain_mod.SeededChain(9)
    assert a(123) == b(123)
    assert chain_mod.SeededChain(10)(123) != a(123)
    assert api_reads.request_stream(4, 50) == api_reads.request_stream(4, 50)
    assert fixtures.make_documents(2, 30) == fixtures.make_documents(2, 30)


def test_request_mix_leans_on_lists():
    paths = api_reads.request_stream(1, 4000)
    share = sum(p.startswith("/transactions/list") for p in paths) / 4000
    assert 0.45 < share < 0.55
    addrs = [p.split("address=")[1].split("&")[0] for p in paths
             if "address=" in p]
    assert len(set(addrs)) > 300  # the Zipf tail keeps bringing new ids


def _span(sid, name, start, end, parent, thread=1):
    return {"id": sid, "name": name, "start": start, "end": end,
            "parent": parent, "op": 0, "kind": "t", "thread": thread}


def test_self_times_and_blocking_sum_with_concurrent_children():
    spans = [
        _span(0, "root", 0.0, 1.0, None),
        _span(1, "a", 0.1, 0.5, 0, thread=2),
        _span(2, "b", 0.2, 0.6, 0, thread=3),
        _span(3, "c", 0.3, 0.4, 1, thread=2),
    ]
    st = tracing.self_times(spans)
    assert abs(st[0] - 500.0) < 1e-6  # 1000 ms minus the 0.1..0.6 union
    assert abs(st[1] - 300.0) < 1e-6
    wall, total = tracing.blocking_sum_ms(spans)
    assert abs(wall - total) < 1e-6


def test_self_sum_check_catches_a_span_that_outlives_its_op():
    t = tracing.Tracer()
    t.spans = [
        _span(0, "root", 0.0, 1.0, None),
        _span(1, "pool", 0.5, 1.5, 0, thread=2),  # not waited for
    ]
    assert tracing.check_self_sums(t) > 1.0


def test_tracer_parents_calls_on_other_threads_to_the_op():
    import threading

    t = tracing.Tracer()
    holder = {"f": lambda: None}
    t.wrap(holder, "f", "leaf")
    with t.op("op"):
        th = threading.Thread(target=holder["f"])
        th.start()
        th.join(timeout=10)
    assert not th.is_alive()
    t.unpatch()
    root = next(s for s in t.spans if s["name"] == "op")
    leaf = next(s for s in t.spans if s["name"] == "leaf")
    assert leaf["parent"] == root["id"] and leaf["thread"] != root["thread"]
    assert tracing.check_self_sums(t) < 1e-6


def test_curation_stream_equals_batch_cli(tmp_path):
    """The curation_ticks check, end to end on a small slice: the funnel
    fed arrival batches publishes exactly what `run_pipeline` computes over
    the same documents with the funnel's persisted quantizer."""
    import harness

    scratch = str(tmp_path / "run")
    harness.pin_environment(scratch)
    import sys

    sys.path.insert(0, ROOT)
    import curation_ticks

    spark = harness.start_session(scratch)
    try:
        from pyspark.sql import functions as F

        from moc_indexer_spark.llm_pipeline import run_pipeline
        from moc_indexer_spark.streaming.funnel import (
            StreamingCurationFunnel,
        )

        docs_path = str(tmp_path / "arrivals.parquet")
        emb_path = str(tmp_path / "embeddings.parquet")
        curation_ticks.write_arrivals(docs_path, emb_path, 3, 600)
        docs = spark.read.parquet(docs_path).select(
            "doc_id", "text", "lang", "source")
        state = str(tmp_path / "state")
        funnel = StreamingCurationFunnel(
            spark, state, embeddings_path=emb_path, compact_every=16,
            expected_corpus_rows=600)
        for b, lo in enumerate(range(0, 600, 200)):
            funnel.process_batch(
                docs.filter((F.col("doc_id") >= lo)
                            & (F.col("doc_id") < lo + 200)), b)
        published = funnel.publish(str(tmp_path / "out_stream"))
        batch = run_pipeline(
            spark, docs_path, str(tmp_path / "out_batch"),
            near_dedup=True, near_method="minhash",
            semantic_dedup=emb_path,
            semantic_centroids=f"{state}/sem/_model.json",
        )
        assert published == batch
        assert published["raw"] > published["after_exact_dedup"] \
            > published["after_semantic_dedup"] > 0
    finally:
        harness.stop_session(spark)
