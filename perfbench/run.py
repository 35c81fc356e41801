"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload etl_upsert --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from ``--seed``, sets the engine up
``SETUP_REPEATS`` times (fresh Spark session each time), warms it up for
the workload's ``warmup_s``, sets it up again and drives it from one
closed-loop client for ``--seconds``, checks every recorded output, and
prints two JSON lines on stdout: a detail record (environment stamp, phase
times, sample counts, the workload's own named metrics) and, last, the
result ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` reports the
per-layer metrics: the workload runs half of ``--seconds`` untraced, is
set up again, and runs the other half traced; the tracing overhead is the
per-operation difference between the two passes over the same
operations. Exit status: 0 when every output check passed, 1 when one
failed, 2 when the engine package is missing from the checkout."""

from __future__ import annotations

import argparse
import importlib
import json
import math
import os
import shutil
import signal
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)
PACKAGE = "servihabitat_etl_spyke_spark"

WORKLOADS = {
    "etl_upsert": ("perfbench.wl_etl", "EtlUpsert"),
    "autoapi_read_write": ("perfbench.wl_api", "AutoApi"),
    "curation_batch": ("perfbench.wl_curation", "Curation"),
    "event_stream": ("perfbench.wl_stream", "EventStream"),
}

#: the workloads BENCHMARK.json lists. ``event_stream`` and
#: ``curation_batch`` run, check and trace from the same command but are
#: not listed: their operations are not steady within the run length the
#: benchmark's time budget leaves (README.md)
LISTED = ("etl_upsert", "autoapi_read_write")

SETUP_REPEATS = 5

#: end-to-end metrics: (name, unit); every workload reports all of them
END_TO_END = (("setup_s", "s"), ("items_per_s", "1/s"), ("op_p50_ms", "ms"))

TRACE_LAYERS = (("trace.overhead_ms_per_op", "ms"),
                ("trace.overhead_share", "ratio"))


def workload_class(name: str):
    mod, cls = WORKLOADS[name]
    return getattr(importlib.import_module(mod), cls)


def per_layer() -> list[tuple[str, str]]:
    """The per-layer metrics of the listed workloads, (name, unit), in
    BENCHMARK.json order: the session's (the Python-worker warm-up only if
    a listed workload uses Python workers), each workload's own ``layers``
    (a metric two workloads share is listed once) and the tracing
    overhead. A workload that does not exercise a layer reports 0 for it."""
    out = {"session.start_s": "s"}
    if any(workload_class(n).uses_python_workers for n in LISTED):
        out["session.python_worker_warmup_s"] = "s"
    for name in LISTED:
        out.update(workload_class(name).layers)
    out.update(TRACE_LAYERS)
    return list(out.items())


def _finite(x: float) -> float:
    """JSON has no infinity: a latency made infinite by failed operations
    is reported as a day; NaN (no sample) as 0."""
    if math.isnan(x):
        return 0.0
    return 86_400_000.0 if math.isinf(x) else float(x)


def bench(args, work: str) -> tuple[dict, dict]:
    from perfbench import harness

    width = harness.spark_width()
    stamp = harness.env_stamp(width)
    ops = harness.Ops()
    tracer = harness.Tracer()
    wl = workload_class(args.workload)(work, args.seed, args.tiny, ops,
                                       tracer)

    phases: dict[str, float] = {}
    last = [time.perf_counter()]

    def phase(name: str) -> None:
        """Record the wall time since the previous phase ended."""
        now = time.perf_counter()
        phases[name] = round(now - last[0], 3)
        last[0] = now

    wl.generate()
    phase("generate")

    setups, starts, warms = [], [], []
    spark = None
    for _ in range(SETUP_REPEATS):
        if spark is not None:
            for q in spark.streams.active:
                q.stop()
            spark.stop()
        spark, start_s = harness.start_session(width)
        warm_s = (harness.warm_python_workers(spark)
                  if wl.uses_python_workers else 0.0)
        t0 = time.perf_counter()
        wl.setup(spark)
        setups.append(start_s + warm_s + time.perf_counter() - t0)
        starts.append(start_s)
        warms.append(warm_s)
    phase("setup")

    clock = time.perf_counter
    wl.run(clock() + (0.0 if args.tiny else wl.warmup_s), clock)
    ops = wl.ops = harness.Ops()
    wl.setup(spark)
    phase("warmup")
    layers: dict[str, float] = {}
    if args.trace:
        wl.run(clock() + args.seconds / 2, clock)
        base = [r[1] for r in ops.records]
        ops = wl.ops = harness.Ops()
        wl.setup(spark)
        tracer.sc, tracer.enabled = spark.sparkContext, True
        for point in wl.trace_points():
            tracer.patch(*point)
        try:
            wl.run(clock() + args.seconds / 2, clock)
        finally:
            tracer.unpatch()
            tracer.enabled = False
        tracer.spark_counts()
        traced = [r[1] for r in ops.records]
        k = min(len(base), len(traced))
        diff = (sum(traced[:k]) - sum(base[:k])) / max(1, k)
        layers = wl.layer_metrics()
        layers.update({
            "session.start_s": harness.median(starts),
            "session.python_worker_warmup_s": harness.median(warms),
            "trace.overhead_ms_per_op": 1000 * diff,
            "trace.overhead_share": diff / max(1e-9, sum(base[:k]) / max(1, k)),
        })
        tracer.dump(os.path.join(ROOT, ".perfbench_out",
                                 f"trace-{args.workload}-{args.seed}.json"))
    else:
        wl.run(clock() + args.seconds, clock)
    phase("run")

    wl.check()
    phase("check")

    e2e = {
        "setup_s": harness.median(setups),
        "items_per_s": ops.throughput(wl.mix),
        "op_p50_ms": 1000 * ops.percentile(50, wl.mix),
    }
    if args.trace:
        metrics = {n: {"value": _finite(layers.get(n, 0.0)), "unit": u}
                   for n, u in per_layer()}
    else:
        metrics = {n: {"value": _finite(e2e[n]), "unit": u}
                   for n, u in END_TO_END}
    kinds: dict[str, int] = {}
    by_kind: dict[str, list[float]] = {}
    for r in ops.records:
        kinds[r[0]] = kinds.get(r[0], 0) + 1
        by_kind.setdefault(r[0], []).append(r[1])
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "env": stamp, "phases_s": phases,
        "setup_s_each": [round(s, 3) for s in setups],
        "samples": len(ops.records), "ops_by_kind": kinds,
        "p50_ms_by_kind": {k: round(1000 * harness.median(v), 2)
                           for k, v in sorted(by_kind.items())},
        "op_p90_ms": _finite(1000 * ops.percentile(90, wl.mix)),
        "ops_attempted": ops.attempted, "ops_failed": ops.failed,
        "workload_metrics": {n: {"value": _finite(v), "unit": u}
                             for n, (v, u) in wl.metrics().items()},
    }
    if args.trace:
        detail["layer_metrics"] = {n: _finite(v) for n, v in layers.items()}
        detail["span_self_s"] = {n: round(v, 4)
                                 for n, v in tracer.self_times().items()}
    result = {"correct": ops.failed == 0, "attempted": max(1, ops.attempted),
              "failed": ops.failed, "metrics": metrics}
    return result, detail


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="minimal inputs, for the benchmark's own tests")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}",
              file=sys.stderr)
        return 2
    from perfbench import harness

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    harness.pin_cpus()
    harness.prepare_env(ROOT, work)
    # a terminated run still stops Spark and removes its scratch space
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result, detail = bench(args, work)
    finally:
        if "pyspark" in sys.modules:
            harness.shutdown_spark()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(detail))
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
