"""Shared benchmark machinery: process environment, Spark session
lifecycle, the operation recorder, span tracing and summary statistics.

Nothing here runs at import time except pure definitions; ``run.py`` calls
:func:`prepare_env` before anything imports pyspark."""

from __future__ import annotations

import contextlib
import math
import os
import shlex
import sys
import threading
import time
import traceback

import pandas as pd


#: CPUs the run is confined to: the driver, the JVM and every thread and
#: process they start
BENCH_CPUS = 1


def pin_cpus() -> None:
    """Confine this process, and so everything it starts later, to the last
    ``BENCH_CPUS`` CPUs it may use. On a few vCPUs of a shared host a
    Spark operation hands work between a dozen threads; spread over vCPUs,
    each hand-off waits whenever the host has descheduled the vCPU it goes
    to, so operations slowed by up to 60% when the host was busy. On one
    CPU a busy host slows every thread alike."""
    cpus = sorted(os.sched_getaffinity(0))[-BENCH_CPUS:]
    os.sched_setaffinity(0, cpus)


def spark_width() -> int:
    """``local[n]`` width: one task thread per CPU the run may use."""
    return len(os.sched_getaffinity(0))


def prepare_env(root: str, work: str) -> None:
    """Point every temp, scratch and log location of the driver, the JVM
    and the Python workers inside ``work`` and make the checkout
    importable from Spark's Python workers. Must run before pyspark is
    imported."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["TZ"] = "UTC"     # collected timestamps compare as UTC
    time.tzset()
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    # the driver JVM and spark-submit's launcher JVM: temp files in the
    # work dir and no hsperfdata in /tmp. The driver JVM compiles with C1
    # only: every run starts a fresh JVM, and C2 was still compiling Spark
    # 50 s into a run, its compiler threads taking more CPU than the
    # engine's own, so a run measured how far the JIT had got (C1 reaches
    # its steady speed within the warm-up; see README.md)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    driver_opts = f"{java_opts} -XX:TieredStopAtLevel=1"
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--driver-java-options", shlex.quote(driver_opts),
        "--conf", shlex.quote(
            f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"),
        # the traced run maps every job and stage back to its span at
        # exit; keep them all in the status store until then
        "--conf", "spark.ui.retainedJobs=100000",
        "--conf", "spark.ui.retainedStages=100000",
        "--conf", "spark.sql.streaming.ui.enabled=false",
        "pyspark-shell"])


def env_stamp(width: int) -> dict:
    """Host state at start, printed beside every result so a noisy window
    can be recognised afterwards (informational; nothing gates on it)."""
    def cpu_times():
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    a = cpu_times()
    time.sleep(0.25)
    b = cpu_times()
    delta = [y - x for x, y in zip(a, b)]
    steal = delta[7] if len(delta) > 7 else 0
    return {
        "nproc": os.cpu_count(),
        "usable_cpus": len(os.sched_getaffinity(0)),
        "local_n": width,
        "loadavg": list(os.getloadavg()),
        "steal_share": round(steal / max(1, sum(delta)), 4),
        "python": sys.version.split()[0],
    }


# ---------------------------------------------------------------------------
# Spark session lifecycle
# ---------------------------------------------------------------------------

def start_session(width: int):
    """(spark, seconds): build the engine's session and run one trivial
    job, so the figure includes executor start-up, not just the builder."""
    from servihabitat_etl_spyke_spark.session import get_spark
    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=width)
    spark.range(1).count()
    return spark, time.perf_counter() - t0


def warm_python_workers(spark) -> float:
    """Seconds for the first Arrow pandas-UDF job: forks the Python worker
    daemon that every pandas UDF and applyInPandas operator reuses."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    t0 = time.perf_counter()
    spark.range(0, 64, 1, 4).select(plus_one("id")).collect()
    return time.perf_counter() - t0


def shutdown_spark() -> None:
    """Stop the session, then end the JVM the driver launched and wait
    for it. The JVM exits when its stdin closes; its Python workers exit
    when the JVM's pipes to them close."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        for q in spark.streams.active:
            q.stop()
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    with contextlib.suppress(Exception):
        gw.shutdown()
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.stdin.close()
        try:
            proc.wait(timeout=20)
        except Exception:  # noqa: BLE001 - last resort at exit
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None
    _wait_for_orphans()


def _wait_for_orphans(timeout: float = 10.0) -> None:
    """Wait until no process that inherited this run's ``TMPDIR`` (Spark's
    Python workers) is left; they exit on their own once the JVM's pipes
    close."""
    marker = os.environ.get("TMPDIR", "")
    me = str(os.getpid())
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        alive = False
        for pid in os.listdir("/proc"):
            if not pid.isdigit() or pid == me:
                continue
            try:
                with open(f"/proc/{pid}/environ", "rb") as fh:
                    env = fh.read()
            except OSError:
                continue
            if marker and f"TMPDIR={marker}".encode() in env:
                alive = True
                break
        if not alive:
            return
        time.sleep(0.2)


def dir_bytes(path: str) -> int:
    """Total size of the files under ``path``."""
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f))
                     for f in files)
    return total


# ---------------------------------------------------------------------------
# Operations
# ---------------------------------------------------------------------------

class Ops:
    """Closed-loop operation log: one record per request the single client
    sent, (kind, seconds, ok, items). A failed request keeps its measured
    time for throughput but counts as missing every latency limit."""

    def __init__(self):
        self.records: list[tuple[str, float, bool, float]] = []
        self.check_failures = 0
        self.checked = 0

    def call(self, kind: str, fn, items: float = 1.0):
        t0 = time.perf_counter()
        try:
            out = fn()
            ok = True
        except Exception:  # noqa: BLE001 - a failed op is recorded, not fatal
            traceback.print_exc(file=sys.stderr)
            out, ok = None, False
        self.records.append((kind, time.perf_counter() - t0, ok, items))
        return out

    def mismatch(self, what: str) -> None:
        """An output check disagreed: counted as one failed operation."""
        print(f"CHECK FAILED: {what}", file=sys.stderr)
        self.check_failures += 1

    @property
    def attempted(self) -> int:
        return len(self.records) + self.checked

    @property
    def failed(self) -> int:
        return sum(1 for r in self.records if not r[2]) + self.check_failures

    def latencies(self, kinds=None) -> list[float]:
        return [s if ok else math.inf for k, s, ok, _ in self.records
                if kinds is None or k in kinds]

    def weights(self, mix: dict[str, float] | None) -> list[float]:
        """Per record: its kind's share in ``mix`` divided by the number of
        records of that kind, so every kind counts by its share of the
        intended mix however many of it the run sent before its deadline
        (a run that stops mid-deck would otherwise move a percentile that
        falls between two kinds). Without a mix every record weighs 1."""
        if not mix:
            return [1.0] * len(self.records)
        n: dict[str, int] = {}
        for r in self.records:
            n[r[0]] = n.get(r[0], 0) + 1
        return [mix.get(r[0], 0.0) / n[r[0]] for r in self.records]

    def percentile(self, q: float, mix=None) -> float:
        """Weighted latency percentile (q in 0..100): each record stands
        at the middle of its weight on the cumulative weight, and the
        percentile is interpolated between the two records around it, so
        it moves smoothly rather than jumping from one record to the next.
        A failed operation counts as infinitely slow."""
        pairs = sorted(zip(self.latencies(), self.weights(mix)))
        total = sum(w for _, w in pairs)
        if not total:
            return math.nan
        at = q / 100 * total
        acc, prev = 0.0, None
        for v, w in pairs:
            mid = acc + w / 2
            if at <= mid:
                if prev is None or math.isinf(v):
                    return v
                v0, at0 = prev
                return v0 + (v - v0) * (at - at0) / (mid - at0)
            prev, acc = (v, mid), acc + w
        return pairs[-1][0]

    def throughput(self, mix=None) -> float:
        """Items per second of operation time: all items the operations
        handled over the summed time they took, each record weighted as
        in :meth:`weights` (a failed operation adds its time but no
        items), so slow operations weigh in full."""
        w = self.weights(mix)
        busy = sum(wi * r[1] for wi, r in zip(w, self.records))
        items = sum(wi * r[3] for wi, r in zip(w, self.records) if r[2])
        return items / busy if busy > 0 else math.nan


def more(ops: Ops, deadline: float, clock) -> bool:
    """Whether the closed loop sends another operation: yes while one of
    median length, started now, would end less than half an operation past
    ``deadline``, so multi-second operations do not overrun the run by a
    whole operation."""
    done = [r[1] for r in ops.records]
    return clock() + (median(done) / 2 if done else 0.0) < deadline


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100); inf entries sort last."""
    if not values:
        return math.nan
    v = sorted(values)
    k = max(0, min(len(v) - 1, math.ceil(q / 100 * len(v)) - 1))
    return v[k]


def median(values: list[float]) -> float:
    if not values:
        return math.nan
    v = sorted(values)
    n = len(v)
    return v[n // 2] if n % 2 else (v[n // 2 - 1] + v[n // 2]) / 2


# ---------------------------------------------------------------------------
# Tracing
# ---------------------------------------------------------------------------

class Tracer:
    """In-memory spans (name, start, end, parent, op id) around calls into
    the program's layers. Disabled, :meth:`span` costs one attribute test.

    On the main thread every span also becomes the Spark job group of the
    jobs it launches, so :meth:`spark_counts` can attribute jobs, tasks,
    shuffle bytes and input rows to the innermost enclosing span."""

    def __init__(self, sc=None, enabled: bool = False):
        self.enabled = enabled
        self.sc = sc
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple] = []
        self.op_id = None

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, idx: int | None) -> None:
        if self.sc is None or threading.current_thread() \
                is not threading.main_thread():
            return
        if idx is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"pb-span-{idx}", self.spans[idx]["name"])

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": stack[-1] if stack else None, "op": self.op_id,
               "thread": threading.get_ident(), **attrs}
        with self._lock:
            idx = rec["idx"] = len(self.spans)
            self.spans.append(rec)
        stack.append(idx)
        self._set_group(idx)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            self._set_group(stack[-1] if stack else None)

    def patch(self, module, attr: str, name: str, on_result=None) -> None:
        """Replace ``module.attr`` by a wrapper that opens span ``name``
        around each call (and hands the return value to ``on_result``);
        :meth:`unpatch` restores the original."""
        orig = getattr(module, attr)
        tracer = self

        def wrapper(*a, **kw):
            with tracer.span(name):
                out = orig(*a, **kw)
            if on_result is not None:
                on_result(out)
            return out
        wrapper.__wrapped__ = orig
        setattr(module, attr, wrapper)
        self._patched.append((module, attr, orig))

    def unpatch(self) -> None:
        while self._patched:
            module, attr, orig = self._patched.pop()
            setattr(module, attr, orig)

    # -- analysis -----------------------------------------------------------

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None]

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the part covered by its
        direct children (children run nested, never overlapping)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if s["end"] is None:
                continue
            out[s["name"]] = out.get(s["name"], 0.0) + (
                s["end"] - s["start"] - child[i])
        return out

    def spark_counts(self) -> None:
        """Attach Spark job, task, shuffle-write/read byte and input-row
        counts to every span (self counts: jobs launched while the span was
        the innermost one on the main thread), split the summed task time
        of its stages into ``task_ms_write`` (stages that write output
        rows) and ``task_ms_other``, and keep each job's wall interval
        (epoch ms) in ``job_intervals``."""
        if self.sc is None or not self.spans:
            return
        sc = self.sc
        with contextlib.suppress(Exception):
            sc._jsc.sc().listenerBus().waitUntilEmpty()
        store = sc._jsc.sc().statusStore()
        gw = sc._gateway
        stages = store.stageList(None, False, False,
                                 gw.new_array(gw.jvm.double, 0),
                                 gw.jvm.java.util.ArrayList())
        per_stage = {}
        for i in range(stages.size()):
            s = stages.apply(i)
            per_stage[s.stageId()] = (s.numTasks(), s.shuffleWriteBytes(),
                                      s.shuffleReadBytes(), s.inputRecords(),
                                      s.executorRunTime(),
                                      s.outputRecords() > 0)
        for s in self.spans:
            s.update(jobs=0, tasks=0, shuffle_write=0, shuffle_read=0,
                     input_rows=0, task_ms_write=0, task_ms_other=0,
                     job_intervals=[])
        jobs = store.jobsList(None)
        for i in range(jobs.size()):
            j = jobs.apply(i)
            g = j.jobGroup()
            if not g.isDefined() or not g.get().startswith("pb-span-"):
                continue
            idx = int(g.get()[len("pb-span-"):])
            if idx >= len(self.spans):
                continue
            rec = self.spans[idx]
            rec["jobs"] += 1
            start, end = j.submissionTime(), j.completionTime()
            if start.isDefined() and end.isDefined():
                rec["job_intervals"].append((start.get().getTime(),
                                             end.get().getTime()))
            ids = j.stageIds()
            for k in range(ids.size()):
                st = per_stage.get(ids.apply(k))
                if st is None:
                    continue
                rec["tasks"] += st[0]
                rec["shuffle_write"] += st[1]
                rec["shuffle_read"] += st[2]
                rec["input_rows"] += st[3]
                rec["task_ms_write" if st[5] else "task_ms_other"] += st[4]

    def outside_jobs(self, idx: int) -> float:
        """Seconds of span ``idx`` during which none of the Spark jobs
        launched under it ran (driver-side work such as file renames)."""
        iv = sorted(iv for i in self.subtree(idx)
                    for iv in self.spans[i].get("job_intervals", ()))
        busy, end = 0.0, -math.inf
        for a, b in iv:
            if b > end:
                busy += b - max(a, end)
                end = b
        s = self.spans[idx]
        return max(0.0, s["end"] - s["start"] - busy / 1000)

    def subtree(self, idx: int) -> list[int]:
        """``idx`` and every span nested under it."""
        kids: dict[int, list[int]] = {}
        for i, s in enumerate(self.spans):
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(i)
        out, todo = [], [idx]
        while todo:
            i = todo.pop()
            out.append(i)
            todo.extend(kids.get(i, ()))
        return out

    def total(self, idx: int, key: str) -> float:
        return sum(self.spans[i].get(key, 0) for i in self.subtree(idx))

    def dump(self, path: str) -> None:
        import json
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh)
