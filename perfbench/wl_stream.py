"""event_stream: the streaming layer. Seeded, time-ordered events are cut
into fixed-size parquet files and replayed through ``read_event_stream``
into three running queries: ``state_machine_stream`` and
``tumbling_counts_stream`` into collecting foreachBatch sinks, and
``stream_dedup`` into a ``stream_keyed_upsert`` sink, which merges every
micro-batch into a growing parquet store (many small merges, where
etl_upsert makes a few large ones). One operation lands the next file and
waits until all three queries have committed it and run any no-data
micro-batch it set off, so every micro-batch holds exactly one file.

The queries run on the default trigger rather than restarting an
``availableNow`` trigger per file: ``read_event_stream`` takes no
``maxFilesPerTrigger``, and a restart per file spent most of each
operation starting queries. Set-up defines the stream over a source
directory that holds only an empty, schema-carrying file, starts the
queries and waits until they have committed that file. When the files run
out the stream starts again from empty checkpoints, outside the timed
region."""

from __future__ import annotations

import datetime as dt
import os
import random
import shutil

from . import gen
from .harness import dir_bytes, median, more

QUERIES = ("state_machine", "tumbling", "sink")


class EventStream:
    name = "event_stream"
    uses_python_workers = True
    warmup_s = 8.0
    mix = None
    #: the per-layer metrics this workload reports with ``--trace 1``
    layers = (
        ("streaming.add_batch_ms", "ms"),
        ("streaming.state_rows_total", "count"),
        ("streaming.state_memory_mb", "MB"),
        ("streaming.input_rows_per_batch", "count"),
        ("streaming.sink_merge_ms", "ms"),
        ("etl.bytes_written_per_input_byte", "ratio"),
    )

    def __init__(self, work: str, seed: int, tiny: bool, ops, tracer):
        self.dir = os.path.join(work, "stream")
        self.seed = seed
        self.ops, self.tracer = ops, tracer
        self.n_files, self.per_file, self.n_users = (
            (6, 40, 10) if tiny else (60, 500, 300))
        self.queries: list = []

    def generate(self) -> None:
        rng = random.Random(self.seed)
        self.files = []
        tables = gen.event_files(rng, self.n_files, self.per_file,
                                 self.n_users)
        for i, t in enumerate(tables):
            p = os.path.join(self.dir, "pool", f"part-{i + 1:05d}.parquet")
            gen.write_parquet(t, p)
            self.files.append((p, t.num_rows))
        self.schema_file = os.path.join(self.dir, "pool", "part-00000.parquet")
        gen.write_parquet(tables[0].slice(0, 0), self.schema_file)

    @property
    def src(self) -> str:
        return os.path.join(self.dir, "live", "events.parquet")

    def setup(self, spark) -> None:
        from servihabitat_etl_spyke_spark import streaming
        from servihabitat_etl_spyke_spark.streaming import sinks
        self.spark, self.streaming, self.sinks = spark, streaming, sinks
        self.op_log = []
        self.progress = []
        self._reset()
        self._start()

    def _reset(self) -> None:
        """Stop the queries; empty source, checkpoints and store; land an
        empty file that carries the schema (``read_event_stream`` reads it
        from the directory) and define the stream."""
        for q in self.queries:
            q.stop()
        self.queries = []
        for d in ("live", "ckpt", "store"):
            shutil.rmtree(os.path.join(self.dir, d), ignore_errors=True)
        os.makedirs(self.src)
        shutil.copy(self.schema_file, self.src)
        self.landed = 0
        self.sm_state: dict[int, list] = {}
        self.windows: dict[tuple, tuple] = {}
        self.seen: dict[str, int] = {q: -1 for q in QUERIES}
        self.stream = self.streaming.read_event_stream(
            self.spark, os.path.dirname(self.src))

    def _start(self) -> None:
        """Start the three queries and wait until they have committed the
        schema file."""
        st, ck = self.streaming, os.path.join(self.dir, "ckpt")
        self.queries = [
            st.state_machine_stream(self.stream, st.stateful.USER_LIFECYCLE)
            .writeStream.outputMode("update")
            .foreachBatch(self._collect_states)
            .option("checkpointLocation", os.path.join(ck, "sm")).start(),
            st.tumbling_counts_stream(self.stream, "1 hour", "10 minutes")
            .writeStream.outputMode("update")
            .foreachBatch(self._collect_windows)
            .option("checkpointLocation", os.path.join(ck, "tumbling"))
            .start(),
            self.sinks.stream_keyed_upsert(
                self.sinks.stream_dedup(self.stream, ["event_id"],
                                        event_time_col="ts", delay="1 hour"),
                os.path.join(self.dir, "store"), "event_id",
                os.path.join(ck, "sink"), order_col="ts",
                available_now=False),
        ]
        self._process()
        self._record_progress()

    def _land(self) -> None:
        src, _ = self.files[self.landed]
        shutil.copy(src, os.path.join(self.src, os.path.basename(src)))
        self.landed += 1

    def trace_points(self):
        return [(self.sinks, "upsert_into_path", "streaming.sink_merge")]

    # -- sinks --------------------------------------------------------------

    def _collect_states(self, batch, _bid) -> None:
        for r in batch.collect():
            n = self.sm_state.get(r["user_id"], [None, 0])[1]
            self.sm_state[r["user_id"]] = [r["state"], n + r["n_events"]]

    def _collect_windows(self, batch, _bid) -> None:
        for r in batch.collect():
            self.windows[(r["window"]["start"], r["event_type"])] = (
                r["cnt"], r["sum_value"])

    def _drain(self) -> None:
        """Block until every query has committed every landed file."""
        for q in self.queries:
            q.processAllAvailable()
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))

    def _settle(self, timeout: float = 60.0) -> None:
        """Wait until no query has had a trigger running for three polls in
        a row. After a file is committed a query may still run a no-data
        micro-batch (state eviction after the watermark moved), which in
        the sink rewrites the store; an operation includes it, so the
        next file never lands while it runs."""
        import time
        idle, deadline = 0, time.monotonic() + timeout
        while idle < 3 and time.monotonic() < deadline:
            time.sleep(0.05)
            busy = any(q.status["isTriggerActive"] for q in self.queries)
            idle = 0 if busy else idle + 1

    def _process(self) -> None:
        self._drain()
        self._settle()

    def _record_progress(self) -> None:
        for name, q in zip(QUERIES, self.queries):
            for p in q.recentProgress:
                if p.batchId > self.seen[name]:
                    self.seen[name] = p.batchId
                    self.progress.append((name, p))

    # -- timed loop ---------------------------------------------------------

    def run(self, deadline: float, clock) -> None:
        while more(self.ops, deadline, clock):
            if self.landed == len(self.files):
                self._reset()
                self._start()
            self._land()
            path, rows = self.files[self.landed - 1]
            self.tracer.op_id = len(self.ops.records)
            with self.tracer.span("streaming.batch"):
                self.ops.call("batch", self._process, items=rows)
            self._record_progress()
            self.op_log.append({
                "rows_bytes": os.path.getsize(path),
                "store_bytes": dir_bytes(os.path.join(self.dir, "store"))})

    # -- output check -------------------------------------------------------

    def _quiesce(self) -> None:
        self._settle()
        for q in self.queries:
            q.stop()

    def check(self) -> None:
        self._quiesce()
        st = self.streaming
        events = self.spark.read.parquet(self.src)
        want_sm = {r["user_id"]: [r["final_state"], r["n_events"]]
                   for r in st.state_machine_fold(
                       events, st.stateful.USER_LIFECYCLE).collect()}
        self.ops.checked += 1
        if want_sm != self.sm_state:
            bad = [k for k in want_sm if want_sm[k] != self.sm_state.get(k)]
            self.ops.mismatch(f"state_machine_stream: {len(bad)} users "
                              f"differ from state_machine_fold, e.g. "
                              f"{[(k, want_sm[k], self.sm_state.get(k)) for k in bad[:3]]}")
        cols = ["event_id", "user_id", "event_type", "value"]
        want = {tuple(r) for r in
                events.dropDuplicates(["event_id"]).select(*cols).collect()}
        got_rows = (self.spark.read.parquet(os.path.join(self.dir, "store"))
                    .select(*cols).collect())
        self.ops.checked += 1
        got = {tuple(r) for r in got_rows}
        if want != got or len(got_rows) != len(got):
            self.ops.mismatch(f"stream_dedup + stream_keyed_upsert: store has "
                              f"{len(got_rows)} rows, dropDuplicates twin "
                              f"{len(want)}; {len(want ^ got)} differ")
        self.ops.checked += 1
        want_w: dict[tuple, list] = {}
        for r in events.select("ts", "event_type", "value").collect():
            k = (r["ts"].replace(minute=0, second=0, microsecond=0),
                 r["event_type"])
            acc = want_w.setdefault(k, [0, 0.0])
            acc[0] += 1
            acc[1] += r["value"]
        got_w = {(k[0].replace(tzinfo=None) if isinstance(k[0], dt.datetime)
                  else k[0], k[1]): v for k, v in self.windows.items()}
        if set(want_w) != set(got_w) or any(
                got_w[k][0] != c or abs(got_w[k][1] - s) > 0.011
                for k, (c, s) in want_w.items()):
            self.ops.mismatch(f"tumbling_counts_stream: {len(got_w)} windows "
                              f"vs {len(want_w)} in the batch fold, or "
                              f"counts differ")

    # -- metrics ------------------------------------------------------------

    def metrics(self) -> dict:
        from .harness import percentile
        return {
            "stream_events_per_s": (self.ops.throughput(), "1/s"),
            "stream_batch_p50_ms": (
                1000 * percentile(self.ops.latencies(), 50), "ms"),
        }

    def layer_metrics(self) -> dict:
        tr = self.tracer
        data = [(n, p) for n, p in self.progress if p.numInputRows > 0]
        last: dict[str, object] = {}
        for n, p in self.progress:
            last[n] = p
        state_rows = sum(op.numRowsTotal for p in last.values()
                         for op in p.stateOperators)
        state_mem = sum(op.memoryUsedBytes for p in last.values()
                        for op in p.stateOperators)
        return {
            "streaming.add_batch_ms": median(
                [p.durationMs.get("addBatch", 0) for _, p in data]),
            "streaming.state_rows_total": float(state_rows),
            "streaming.state_memory_mb": state_mem / 1e6,
            "streaming.input_rows_per_batch": median(
                [p.numInputRows for _, p in data]),
            "streaming.sink_merge_ms": 1000 * median(
                tr.durations("streaming.sink_merge")),
            "etl.bytes_written_per_input_byte": (
                sum(o["store_bytes"] for o in self.op_log)
                / max(1, sum(o["rows_bytes"] for o in self.op_log))),
        }
