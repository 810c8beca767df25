#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload link_capped --seed 1 --seconds 10 \\
        --trace 0

Run from the repository root.  The workloads, metrics, units and bounds
are listed in ``BENCHMARK.json``; ``perfbench/README.md`` says what each
one measures.  With ``--trace 0`` the result carries every end-to-end
metric, with ``--trace 1`` every per-layer metric.  The last line of
standard output is the result:

    {"correct": true, "attempted": 4, "failed": 0, "metrics": {...}}

and the line before it a JSON record of the run's details (machine before
and after, per-operation samples, set-up samples, sizes).
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = {"link_capped": "link", "catalog": "catalog"}


def _layer_metrics(bench, outcome, app_id: str) -> dict[str, float]:
    """Per-call means of every span's wall time, process-tree CPU and
    event-log counters (``peak_exec_mem_mb`` is the largest task's peak),
    plus the counts and ratios the workload recorded."""
    from eventlog import COUNTERS, fold, read_events

    folded = fold(read_events(bench.event_dir, app_id))
    tracer = bench.tracer
    out = dict(outcome.layers)
    for span, calls in tracer.calls.items():
        out[f"{span}.s"] = tracer.wall[span] / calls
        out[f"{span}.proc_cpu_s"] = tracer.cpu[span] / calls
        counters = folded.get(span, {})
        for c in COUNTERS:
            v = counters.get(c, 0.0)
            out[f"{span}.{c}"] = v if c == "peak_exec_mem_mb" else v / calls
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # on SIGTERM, unwind through the finally blocks that stop the JVM and
    # delete the run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401
        import spellchecker_wasm_spark
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2
    # measure the checkout's program, never an installed copy
    if not os.path.abspath(spellchecker_wasm_spark.__file__).startswith(
            ROOT + os.sep):
        print(f"perfbench: spellchecker_wasm_spark is not under {ROOT}",
              file=sys.stderr)
        return 2

    import importlib

    import selftest
    from harness import Bench, RunDir, machine_snapshot, median

    selftest.check()
    module = importlib.import_module(WORKLOADS[args.workload])
    machine_start = machine_snapshot()
    with RunDir(ROOT) as rundir:
        bench = Bench(args.workload, args.seed, args.seconds,
                      bool(args.trace), rundir)
        try:
            outcome = module.run(bench)
            app_id = bench.spark.sparkContext.applicationId
        finally:
            bench.close()
        if args.trace:
            values = _layer_metrics(bench, outcome, app_id)
            wanted = spec["per_layer"]
        else:
            values = {
                "setup_s": bench.setup_s,
                "op_p50_s": median(outcome.ops),
                "quality": outcome.quality,
                "cpu_core_s": median(outcome.op_cpu),
                "peak_rss_mb": bench.proc.peak,
            }
            wanted = spec["end_to_end"]
    # a layer this workload never calls reads 0
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)),
                           "unit": m["unit"]} for m in wanted}
    details = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "machine_start": machine_start, "machine_end": machine_snapshot(),
        "heap_mb": bench.heap_mb, "session_s": bench.session_s,
        "warm_s": bench.warm_s, "load_s": bench.load_s,
        "ops": len(outcome.ops), "op_cpu_s": outcome.op_cpu,
        "timed_busy_s": bench.meter.busy_s,
        "timed_cpu_core_s": bench.meter.cpu_s,
        "peak_rss_jvm_mb": bench.proc.peak_jvm,
        "peak_rss_workers_mb": bench.proc.peak_workers,
        "unreported": {k: v for k, v in values.items() if k not in metrics},
        **outcome.details,
    }
    print(json.dumps(details))
    print(json.dumps({"correct": outcome.failed == 0,
                      "attempted": outcome.attempted,
                      "failed": outcome.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
