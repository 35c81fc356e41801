"""The benchmark's own tests, at a tiny scale with a few operations:

- every named metric is emitted with its unit, by the CLI, for each
  workload, traced and untraced, and the names match BENCHMARK.json;
- a deliberately corrupted output trips each workload's check;
- without the engine package the benchmark fails without a result.

Run from the checkout root: ``python3 -m pytest perfbench/tests -q``."""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
import time

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import harness, run  # noqa: E402

WORKLOADS = sorted(run.WORKLOADS)
SCRATCH = os.path.join(ROOT, ".perfbench_work", f"tests-{os.getpid()}")


@pytest.fixture
def scratch(request):
    """A fresh directory inside the checkout, removed afterwards (named
    without the brackets of a parametrized test: Spark reads them as a
    glob)."""
    d = os.path.join(SCRATCH, re.sub(r"[^\w.-]", "_", request.node.name))
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _cli(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=300)


def test_metric_tables_match_benchmark_json():
    spec = _bench_json()
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == \
        list(run.END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == \
        run.per_layer()
    assert [w["name"] for w in spec["workloads"]] == list(run.LISTED)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_metric_is_emitted_with_its_unit(workload, trace):
    p = _cli("--workload", workload, "--seed", "3", "--seconds", "1",
             "--trace", str(trace), "--tiny")
    assert p.returncode == 0, p.stderr[-3000:]
    detail, result = (json.loads(x) for x in p.stdout.splitlines()[-2:])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 1
    want = run.per_layer() if trace else run.END_TO_END
    assert {n: m["unit"] for n, m in result["metrics"].items()} == dict(want)
    assert all(isinstance(m["value"], float)
               for m in result["metrics"].values())
    if not trace:
        assert all(m["value"] > 0 for m in result["metrics"].values())
    assert detail["workload_metrics"]
    assert all(set(m) == {"value", "unit"}
               for m in detail["workload_metrics"].values())
    assert {"nproc", "local_n", "loadavg", "steal_share"} <= set(
        detail["env"])
    if trace:
        layers = detail["layer_metrics"]
        assert {n for n, _ in run.workload_class(workload).layers} <= set(
            layers)
        assert "trace.overhead_ms_per_op" in layers
        assert layers["session.start_s"] > 0
        if run.workload_class(workload).uses_python_workers:
            assert layers["session.python_worker_warmup_s"] > 0


def test_missing_package_fails_without_a_result(scratch):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), scratch)
    shutil.copytree(os.path.join(ROOT, "perfbench"),
                    os.path.join(scratch, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    p = _cli("--workload", "etl_upsert", "--seed", "1", "--seconds", "1",
             "--trace", "0", cwd=scratch)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


# ---------------------------------------------------------------------------
# corrupted outputs trip the checks (one in-process Spark session)
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def spark():
    harness.prepare_env(ROOT, os.path.join(SCRATCH, "spark"))
    s, _ = harness.start_session(2)
    yield s
    harness.shutdown_spark()
    shutil.rmtree(SCRATCH, ignore_errors=True)


def _ran(workload: str, spark, work: str, seconds: float):
    import importlib
    mod, cls = run.WORKLOADS[workload]
    ops = harness.Ops()
    wl = getattr(importlib.import_module(mod), cls)(
        work, 5, True, ops, harness.Tracer())
    wl.generate()
    wl.setup(spark)
    wl.run(time.perf_counter() + seconds, time.perf_counter)
    assert ops.records and ops.failed == 0
    wl.check()
    assert ops.failed == 0, "clean output must pass its check"
    return wl, ops


class _Counter:
    """A clock that advances by 1000 s at every reading, far more than any
    operation takes: ``run(1000 * n + 500, clock)`` sends ``n``
    operations."""

    def __init__(self):
        self.t = 0

    def __call__(self) -> int:
        self.t += 1000
        return self.t


#: operations a traced pass needs to reach every layer of a workload: all
#: six entities and one snapshot swap; two request decks, which list the
#: runtime model at every lineage depth
TRACED_OPS = {"etl_upsert": 8, "autoapi_read_write": 60,
              "curation_batch": 1, "event_stream": 2}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_exercised_layer_metrics_are_above_zero(workload, spark, scratch):
    """Each layer metric a workload declares is above 0 once a traced pass
    has reached that layer (the tracing overhead is a difference of two
    times and is not declared by any workload)."""
    ops = harness.Ops()
    tracer = harness.Tracer(spark.sparkContext, enabled=True)
    wl = run.workload_class(workload)(scratch, 5, True, ops, tracer)
    wl.generate()
    wl.setup(spark)
    for point in wl.trace_points():
        tracer.patch(*point)
    try:
        wl.run(1000 * TRACED_OPS[workload] + 500, _Counter())
    finally:
        tracer.unpatch()
        tracer.enabled = False
    tracer.spark_counts()
    wl.check()
    assert len(ops.records) == TRACED_OPS[workload] and ops.failed == 0
    got = wl.layer_metrics()
    assert {n: got.get(n) for n, _ in wl.layers
            if not got.get(n, 0) > 0} == {}


def test_corrupt_etl_store_is_caught(spark, scratch):
    import pyarrow.parquet as pq
    wl, ops = _ran("etl_upsert", spark, scratch, 0.001)
    entity = next(iter(wl.applied))
    path = wl.store(entity)
    table = pq.read_table(path)
    shutil.rmtree(path)
    os.makedirs(path)
    pq.write_table(table.slice(1), os.path.join(path, "part-0.parquet"))
    wl.check()
    assert ops.failed == 1


def test_corrupt_api_response_is_caught(spark, scratch):
    wl, ops = _ran("autoapi_read_write", spark, scratch, 3.0)
    sample = next(s for s in wl.samples
                  if s["kind"] not in ("put", "delete"))
    sample["out"] = ["not the answer"]
    wl.check()
    assert ops.failed == 1


def test_corrupt_curation_result_is_caught(spark, scratch):
    wl, ops = _ran("curation_batch", spark, scratch, 0.001)
    cols, rows = wl.results["dedup_simhash"]
    wl.results["dedup_simhash"] = (cols, rows[1:])
    wl.check()
    assert ops.failed == 1


def test_corrupt_stream_state_is_caught(spark, scratch):
    wl, ops = _ran("event_stream", spark, scratch, 0.001)
    user = next(iter(wl.sm_state))
    wl.sm_state[user][0] = "no-such-state"
    wl.check()
    assert ops.failed == 1
