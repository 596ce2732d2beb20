"""index_serve: the indexer's scan -> decode -> upsert -> serve loop.

One driver thread, closed loop, over `Indexer(sink_mode="mor")` fed by the
seeded `SeededChain`:

  set-up   the cold first cycle (blocks 0..60)
  phase A  recovery: a backlog indexed in two cycles, one below and one
           above the `_delta_shards` gate (BACKLOG blocks)
  phase B  warm-up ticks, then the window: window_ticks(--seconds) ticks
           of 10 blocks, each followed by three reads for a seeded user --
           tx-list first page, a deeper page and tx-last -- through
           `operators.serving` over `tables["transactions"].read()`

The window is a fixed number of ticks from a fixed starting state, so it
covers the same positions of the (deterministic) fold schedule in every
run; `sink.folds` counts the folds of phase B (warm-up and window).

Output checks (untimed): every sink's row count and every read page must
equal the answer computed in plain Python from the generator's rows.
"""

from __future__ import annotations

import os
import random
from decimal import Decimal

import seeded_chain as chain_mod
from harness import SparkCounters, dir_stats, metric, percentile

BLOCKS_PER_TICK = 10
BACKLOG = (500, 4000)  # below and above the delta-shard gate at local[4]
# Phase B's fold schedule (compact_every=16, at most one sink fold per
# cycle) puts a fastbtc fold on tick 4, then one fold on each of ticks
# 12-16. Clean ticks keep getting faster over the first ~5 ticks (JIT and
# plan-cache warm-up: about 2.5 s on ticks 0-3, 2.0 s on ticks 5-11 on a
# 4-vCPU host), so the first 5 ticks, fold included, are warm-up and the
# window starts at tick 5. A whole fold cycle does not fit a run, and one
# fold among 6-8 window ticks would only ever be the maximum, beyond p75;
# the fold is measured by sink.compact_ms on the traced warm-up tick.
WARM_TICKS = 5
WARM_READ_TICKS = 1  # the last warm-up tick is followed by reads too
EXCLUDED = ("FreeStableTokenRedeem",)
PAGE = 20
DEEP_SKIP = 200
TICK_PATH_SINKS = ("raw_transactions", "transactions", "transfers",
                   "fastbtc", "notifications")
# converts --seconds into the fixed tick count of the window: 6 ticks at
# --seconds 20, i.e. the clean ticks 5-10
NOMINAL_TICK_S = 3.5
MIN_WINDOW_TICKS = 6


# per-layer names this workload measures: counts in every run, span self
# times in the traced run; and the spans the traced run must record
COUNTS = (
    "spark.jobs_per_tick", "spark.tasks_per_tick",
    "spark.codegen_compiles_per_tick", "spark.tasks_catchup",
    "spark.jobs_per_read", "spark.codegen_compiles_per_read",
    "sink.delta_dirs_per_read", "sink.folds", "sink.bytes_per_block",
)
SPAN_LAYERS = (
    "chain.plan_ms", "events.plan_ms", "sink.upsert_ms",
    "sink.upsert_critical_ms", "sink.compact_ms", "app.self_ms",
    "app.catchup_ms.below_gate", "app.catchup_ms.above_gate",
    "sink.read_ms", "serving.plan_ms", "serving.exec_ms",
    "traced.tick_ms", "traced.read_ms",
)
SPANS = ("app.run_incremental", "chain.plan", "events.plan", "sink.upsert",
         "sink.read", "serving.plan", "serving.exec")


def window_ticks(seconds: int) -> int:
    return max(MIN_WINDOW_TICKS, round(seconds / NOMINAL_TICK_S))


def install_spans(tracer) -> None:
    import moc_indexer_spark.app as app
    import moc_indexer_spark.operators.serving as serving
    import moc_indexer_spark.serving_http as http
    from moc_indexer_spark.streaming.sink import ParquetUpsertTable

    tracer.wrap(app.Indexer, "run_incremental", "app.run_incremental")
    tracer.wrap(app, "scan_blocks", "chain.plan")
    tracer.wrap(app, "run_event_pipeline", "events.plan")
    tracer.wrap(ParquetUpsertTable, "upsert", "sink.upsert")
    tracer.wrap(ParquetUpsertTable, "compact", "sink.compact")
    tracer.wrap(ParquetUpsertTable, "read", "sink.read")
    tracer.wrap(serving, "api_tx_list", "serving.plan")
    tracer.wrap(serving, "api_tx_last", "serving.plan")
    tracer.wrap(http, "df_to_payload", "serving.exec")


def _serving_view(tx):
    """The sink's `transactions` table under the serving templates' column
    names."""
    from pyspark.sql import functions as F

    return tx.select(
        F.col("transactionHash").alias("tx_hash"), "address", "event",
        F.col("createdAt").alias("created_at"), "amount",
    )


def _read(ix, kind: str, user: str) -> list[dict]:
    from moc_indexer_spark.operators import serving
    from moc_indexer_spark import serving_http

    t = _serving_view(ix.tables["transactions"].read())
    if kind == "last":
        df = serving.api_tx_last(t, user)
    else:
        skip = 0 if kind == "list_first" else DEEP_SKIP
        df = serving.api_tx_list(t, user, EXCLUDED, skip, PAGE)
    return serving_http.df_to_payload(df)


def _expected_page(rows: list[dict], kind: str) -> list[dict]:
    order = sorted(rows, key=lambda r: (r["created_at"], r["tx_hash"]),
                   reverse=True)
    if kind == "last":
        return [{
            "tx_hash": r["tx_hash"], "address": r["address"],
            "event": r["event"], "created_at": r["created_at"].isoformat(),
            "amount": str(r["amount"]),
        } for r in order[:1]]
    order = [r for r in order if r["event"] not in EXCLUDED]
    skip = 0 if kind == "list_first" else DEEP_SKIP
    return [{
        "tx_hash": r["tx_hash"],
        "tx_hash_hex": r["tx_hash"].encode().hex().upper(),
        "address": r["address"], "event": r["event"],
        "created_at_iso": r["created_at"].strftime("%Y-%m-%dT%H:%M:%S.")
        + f"{r['created_at'].microsecond // 1000:03d}Z",
        "amount": str(r["amount"]), "rn": skip + i + 1,
    } for i, r in enumerate(order[skip:skip + PAGE])]


def _span_metrics(tracer) -> dict:
    from tracing import self_times, union_ms

    per: dict[str, list[float]] = {}

    def add(name, v):
        per.setdefault(name, []).append(v)

    for spans in tracer.by_op().values():
        kind = spans[0]["kind"]
        st = self_times(spans)
        by_name: dict[str, list[dict]] = {}
        for s in spans:
            by_name.setdefault(s["name"], []).append(s)

        def self_sum(name):
            return sum(st[s["id"]] for s in by_name.get(name, []))

        def dur_sum(name):
            return sum((s["end"] - s["start"]) * 1000.0
                       for s in by_name.get(name, []))

        if kind == "warm_tick":
            if by_name.get("sink.compact"):
                add("sink.compact_ms", dur_sum("sink.compact"))
        elif kind == "tick":
            add("chain.plan_ms", self_sum("chain.plan"))
            add("events.plan_ms", self_sum("events.plan"))
            add("sink.upsert_ms", dur_sum("sink.upsert"))
            add("sink.upsert_critical_ms", union_ms(
                [(s["start"], s["end"]) for s in by_name.get("sink.upsert", [])]
            ))
            add("app.self_ms", self_sum("app.run_incremental"))
            add("traced.tick_ms", dur_sum("tick"))
        elif kind.startswith("catchup_"):
            gate = kind.split("_", 1)[1]
            add(f"app.catchup_ms.{gate}_gate", dur_sum(kind))
        elif kind == "read":
            add("sink.read_ms", self_sum("sink.read"))
            add("serving.plan_ms", self_sum("serving.plan"))
            add("serving.exec_ms", self_sum("serving.exec"))
            add("traced.read_ms", dur_sum("read"))
    out = {name: percentile(vals, 50) for name, vals in per.items()}
    out.setdefault("sink.compact_ms", 0.0)  # no fold tick in phase B
    return out


def run(ctx) -> dict:
    spark = ctx.spark
    from moc_indexer_spark.app import Indexer

    spark.sparkContext.addPyFile(chain_mod.__file__)
    chain = chain_mod.SeededChain(ctx.seed)
    rng = random.Random(ctx.seed)
    state_dir = os.path.join(ctx.scratch, "index_serve")
    ix = Indexer(spark, state_dir, chain, chain_mod.CONTRACTS,
                 sink_mode="mor")
    tracer = ctx.tracer
    if tracer is not None:
        install_spans(tracer)
    counters = SparkCounters(spark)
    clock = ctx.clock
    # the cold cycle's look-behind window starts exactly at block 0
    tip = ix.config.blocks_look_behind + ix.config.blocks_recession
    reads: list[tuple] = []  # (kind, user, last_indexed, payload)

    def do_reads(timed: bool, lat: list, per_read: list):
        user = chain.users[rng.randrange(len(chain.users))]
        for kind in ("list_first", "list_deep", "last"):
            deltas = dir_stats(ix.tables["transactions"].path)[0]
            counters.take()
            with ctx.op("read", timed):
                t0 = clock()
                payload = _read(ix, kind, user)
                dt = clock() - t0
            c = counters.take()
            reads.append((kind, user, ix.last_indexed, payload))
            if timed:
                lat.append(dt * 1000.0)
                per_read.append((c, deltas))

    # -- set-up: the cold cycle -------------------------------------------
    ctx.log("session up")
    ix.run_incremental(tip)
    setup_s = clock() - ctx.t_start
    ctx.log("set-up done")

    # -- phase A: recovery backlog -----------------------------------------
    counters.take()
    catchup_s = 0.0
    for blocks, gate in zip(BACKLOG, ("below", "above")):
        tip += blocks
        with ctx.op(f"catchup_{gate}", True):
            t0 = clock()
            ix.run_incremental(tip)
            catchup_s += clock() - t0
    tasks_catchup = counters.take()["tasks"]
    ctx.log(f"phase A done: {catchup_s:.2f}s")

    # -- phase B: warm-up, then the window ---------------------------------
    n_ticks = window_ticks(ctx.seconds)
    tick_ms: list[float] = []
    read_ms: list[float] = []
    per_tick: list[dict] = []
    per_read: list[tuple] = []
    fold_ticks: list[tuple[int, str]] = []  # (phase B tick, folded sink)
    counts_before = {n: dir_stats(ix.tables[n].path)[0]
                     for n in TICK_PATH_SINKS}
    for i in range(WARM_TICKS + n_ticks):
        warm = i < WARM_TICKS
        tip += BLOCKS_PER_TICK
        counters.take()
        # warm-up ticks are traced too, as their own kind: the fold tick
        # among them gives sink.compact_ms
        with ctx.op("warm_tick" if warm else "tick", True):
            t0 = clock()
            ix.run_incremental(tip)
            dt = clock() - t0
        c = counters.take()
        counts_after = {n: dir_stats(ix.tables[n].path)[0]
                        for n in TICK_PATH_SINKS}
        fold_ticks += [(i, n) for n in TICK_PATH_SINKS
                       if counts_after[n] < counts_before[n]]
        counts_before = counts_after
        if not warm:
            tick_ms.append(dt * 1000.0)
            per_tick.append(c)
            do_reads(True, read_ms, per_read)
        elif i >= WARM_TICKS - WARM_READ_TICKS:
            do_reads(False, [], [])
        if i == WARM_TICKS - 1:
            ctx.log("phase B warm-up done")

    ctx.log("window done")
    # -- output checks (untimed) -------------------------------------------
    expected = chain_mod.expected_rows(chain, ix.last_indexed)
    errors = []
    for name, want in expected["counts"].items():
        got = ix.tables[name].read().count()
        if got != want:
            errors.append(f"{name}: {got} rows, expected {want}")
    got_status = {r.transferId: r.status for r in
                  ix.tables["fastbtc"].read().select("transferId", "status")
                  .collect()}
    if got_status != expected["fastbtc_status"]:
        errors.append("fastbtc statuses differ from the generator's")
    by_user: dict[str, list[dict]] = {}
    for r in expected["transactions"]:
        by_user.setdefault(r["address"], []).append(r)
    for kind, user, last, payload in reads:
        rows = [r for r in by_user.get(user, []) if r["block"] <= last]
        want = _expected_page(rows, kind)
        got = [{k: (str(Decimal(v)) if k == "amount" else v)
                for k, v in row.items()} for row in payload]
        if kind != "last":
            got.sort(key=lambda r: r["rn"])
        if got != want:
            errors.append(f"read {kind} for {user} at block {last} differs")
    if not all(expected["counts"].values()):
        errors.append("a tick sink received no rows")

    ctx.log("checks done")
    total_bytes = sum(dir_stats(ix.tables[n].path)[1] for n in ix.tables)
    blocks_indexed = ix.last_indexed + 1
    e2e = {  # op = one indexer tick, throughput = catch-up blocks/s
        "setup_s": metric(setup_s, "s"),
        "op_p50_ms": metric(percentile(tick_ms, 50), "ms"),
        "op_p75_ms": metric(percentile(tick_ms, 75), "ms"),
        "read_p50_ms": metric(percentile(read_ms, 50), "ms"),
        "read_p75_ms": metric(percentile(read_ms, 75), "ms"),
        "throughput_per_s": metric(sum(BACKLOG) / catchup_s, "1/s"),
    }
    n_reads = len(per_read)
    layers = {
        "spark.jobs_per_tick": sum(c["jobs"] for c in per_tick) / n_ticks,
        "spark.tasks_per_tick": sum(c["tasks"] for c in per_tick) / n_ticks,
        "spark.tasks_catchup": float(tasks_catchup),
        "spark.jobs_per_read":
            sum(c["jobs"] for c, _ in per_read) / n_reads,
        "spark.codegen_compiles_per_read":
            sum(c["compiles"] for c, _ in per_read) / n_reads,
        "spark.codegen_compiles_per_tick":
            sum(c["compiles"] for c in per_tick) / n_ticks,
        "sink.delta_dirs_per_read": sum(d for _, d in per_read) / n_reads,
        "sink.folds": float(len(fold_ticks)),
        "sink.bytes_per_block": total_bytes / blocks_indexed,
    }
    if tracer is not None:
        layers.update(_span_metrics(tracer))
        if fold_ticks and not any(sp["name"] == "sink.compact"
                                  for sp in tracer.spans):
            errors.append("phase B folded a sink but no sink.compact "
                          "span fired")
    return {
        "errors": errors,
        "attempted": len(BACKLOG) + n_ticks + n_reads,
        "end_to_end": e2e,
        "layers": layers,
        "samples": {"ticks": n_ticks, "reads": n_reads,
                    "blocks_indexed": blocks_indexed,
                    "tick_ms": [round(x, 1) for x in tick_ms],
                    "fold_ticks": fold_ticks,
                    "read_ms": [round(x, 1) for x in read_ms]},
    }
