"""Benchmark entry point: one named workload, one seed, one JSON result.

    python3 perfbench/run.py --workload index_serve --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. `--trace 0` prints the end-to-end metrics;
`--trace 1` patches spans around the program's public calls and prints the
per-layer metrics (counts and span self times). The last line of standard
output is the result object; the line before it records the run
configuration, sample counts and every metric of both kinds.

The exit code is 0 when every output check passed, 1 when one failed (the
result line still prints, with `"correct": false`), and 2 when the program
under test is missing from the working directory (nothing is printed on
standard output).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402
from contextlib import nullcontext  # noqa: E402

import harness  # noqa: E402

WORKLOADS = ("index_serve", "api_reads", "curation_ticks")
WATCHDOG_S = 170.0
# worst allowed gap (%) between an operation's traced wall time and the
# blocking-path sum of its spans' self times (tracing.check_self_sums)
SELF_SUM_BOUND_PCT = 1.0


class Context:
    def __init__(self, spark, scratch, seed, seconds, tracer):
        self.spark = spark
        self.scratch = scratch
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.clock = time.perf_counter
        self.t_start = T_START

    def log(self, msg: str) -> None:
        print(f"perfbench: {self.clock() - self.t_start:7.2f}s {msg}",
              file=sys.stderr, flush=True)

    def op(self, kind: str, traced: bool = True):
        if self.tracer is None:
            return nullcontext()
        return self.tracer.op(kind, traced)


def _load(name: str):
    if name == "index_serve":
        import index_serve as mod
    elif name == "api_reads":
        import api_reads as mod
    else:
        import curation_ticks as mod
    return mod


def _metric_names(root: str, workload: str, mod) -> tuple[dict, dict]:
    """(end-to-end, per-layer) name -> unit for `workload`: the lists in
    BENCHMARK.json when it lists the workload, else the module's own."""
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if workload not in [w["name"] for w in spec["workloads"]]:
        return mod.END_TO_END, mod.PER_LAYER
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def _watchdog(scratch: str) -> None:
    print(f"perfbench: run exceeded {WATCHDOG_S:.0f} s, aborting",
          file=sys.stderr, flush=True)
    try:
        harness.kill_session_now()
        harness.remove_tree(scratch)
    finally:
        os._exit(3)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "moc_indexer_spark",
                                       "__init__.py")):
        print("perfbench: run from the root of a moc_indexer_spark checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    mod = _load(args.workload)
    e2e_names, layer_names = _metric_names(root, args.workload, mod)
    scratch = os.path.join(root, ".perfbench_run", str(os.getpid()))
    env = harness.pin_environment(scratch)
    timer = threading.Timer(WATCHDOG_S, _watchdog, (scratch,))
    timer.daemon = True
    timer.start()

    tracer = None
    if args.trace:
        import tracing

        tracer = tracing.Tracer()
    probe_before = harness.host_probe_ms()
    spark = None
    result = None
    failure = None
    try:
        spark = harness.start_session(scratch)
        ctx = Context(spark, scratch, args.seed, args.seconds, tracer)
        result = mod.run(ctx)
    except Exception:  # the run failed: report it, never a partial result
        failure = traceback.format_exc()
    finally:
        if tracer is not None:
            tracer.unpatch()
        if spark is not None:
            harness.stop_session(spark)
    probe_after = harness.host_probe_ms()
    timer.cancel()

    if failure is not None:
        harness.remove_tree(scratch)
        print(failure, file=sys.stderr)
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1,
                          "metrics": {}}))
        return 1

    errors = list(result["errors"])
    layers = dict(result["layers"])
    layers["host.probe_ms"] = (probe_before + probe_after) / 2.0
    if tracer is not None:
        import tracing

        fired = {s["name"] for s in tracer.spans}
        errors += [f"span {name} never fired" for name in mod.SPANS
                   if name not in fired]
        layers["trace.self_sum_err_pct"] = tracing.check_self_sums(tracer)
        layers["trace.span_cost_us"] = tracing.span_cost_us()
        if layers["trace.self_sum_err_pct"] > SELF_SUM_BOUND_PCT:
            errors.append(
                f"span self times miss the traced wall time by "
                f"{layers['trace.self_sum_err_pct']:.3g}% "
                f"(bound {SELF_SUM_BOUND_PCT}%)")
        out_dir = os.path.join(root, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(
            out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
    harness.remove_tree(scratch)
    if not os.listdir(os.path.dirname(scratch)):
        os.rmdir(os.path.dirname(scratch))

    # a layer the workload does not exercise (an API handler on
    # index_serve) reads 0; one it does must have been measured
    own = mod.COUNTS + (mod.SPAN_LAYERS if tracer is not None else ())
    errors += [f"layer {name} was not measured" for name in own
               if name not in layers]
    errors += [f"end-to-end metric {name} was not measured"
               for name in e2e_names if name not in result["end_to_end"]]
    layer_metrics = {
        name: harness.metric(layers.get(name, 0.0), unit)
        for name, unit in layer_names.items()
    }
    for e in errors:
        print(f"perfbench: output check failed: {e}", file=sys.stderr)
    detail = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "environment": env, "session_conf": harness.SESSION_CONF,
        "samples": result["samples"], "errors": errors[:20],
        "end_to_end": result["end_to_end"], "per_layer": layers,
        "host_probe_ms": [probe_before, probe_after],
    }
    print(json.dumps(detail))
    print(json.dumps({
        "correct": not errors,
        "attempted": result["attempted"],
        "failed": min(len(errors), result["attempted"]),
        "metrics": layer_metrics if args.trace else {
            name: result["end_to_end"][name] for name in e2e_names
            if name in result["end_to_end"]},
    }))
    return 0 if not errors else 1


if __name__ == "__main__":
    sys.exit(main())
