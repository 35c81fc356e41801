"""Streaming layer tests: MQTT wildcard compilation, real Structured
Streaming runs (availableNow trigger + memory sink) checked against their
batch twins, and stateful operators (edge detection, state machines).
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from servihabitat_etl_spyke_spark.catalog import load_table
from servihabitat_etl_spyke_spark.queries import QUERIES
from servihabitat_etl_spyke_spark.streaming import (
    edge_detect_stream, mqtt_to_regex, read_event_stream,
    state_machine_stream, topic_filter, tumbling_counts_stream,
)
from servihabitat_etl_spyke_spark.streaming.stateful import (
    USER_LIFECYCLE, StateMachine, state_machine_entries_stream,
    state_machine_entry_events, state_machine_fold,
)


# ---------------------------------------------------------------------------
# T1: wildcard compilation (pure)
# ---------------------------------------------------------------------------

MATCH_CASES = [
    ("a/b/c", "a/b/c", True),
    ("a/+/c", "a/b/c", True),
    ("a/+/c", "a/b/d", False),
    ("a/+/c", "a/b/b/c", False),          # + is exactly one segment
    ("a/#", "a/b/c/d", True),
    ("a/#", "a", True),                    # '#' also matches the parent
    ("a/#", "b/c", False),
    ("#", "anything/at/all", True),
    ("+/b", "a/b", True),
    ("+/b", "a/b/c", False),
    ("a/b", "a/b/c", False),               # literal is exact
    ("a.b/c", "a.b/c", True),              # regex metachars escaped
    ("a.b/c", "axb/c", False),
    ("a/+/c", "a//c", True),               # '+' matches an EMPTY level
    ("sensors/+/temp", "sensors//temp", True),
    ("a/+", "a/", True),                   # trailing empty level
]


@pytest.mark.parametrize("pattern,topic,expect", MATCH_CASES)
def test_mqtt_to_regex(pattern, topic, expect):
    import re
    assert bool(re.match(mqtt_to_regex(pattern), topic)) is expect


def test_hash_mid_pattern_rejected():
    with pytest.raises(ValueError):
        mqtt_to_regex("a/#/c")


def test_topic_filter_batch(spark):
    df = spark.createDataFrame(
        [(t,) for _, t, _ in MATCH_CASES], "topic string")
    got = {r.topic for r in topic_filter(df, "a/#").collect()}
    assert "a/b/c/d" in got and "b/c" not in got


# ---------------------------------------------------------------------------
# streaming runs (availableNow -> memory sink) vs batch twins
# ---------------------------------------------------------------------------

def _run_stream(df, name, tmp_path, output_mode="append"):
    q = (df.writeStream.format("memory").queryName(name)
         .outputMode(output_mode)
         .option("checkpointLocation", str(tmp_path / name))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    return df.sparkSession.table(name)


def test_event_stream_source(spark, sf_dir, tmp_path):
    stream = read_event_stream(spark, sf_dir)
    assert stream.isStreaming
    got = _run_stream(stream, "ev_all", tmp_path)
    batch = load_table(spark, sf_dir, "events")
    assert got.count() == batch.count()
    # stream ts is watermark-capable (LTZ — required by event-time ops);
    # batch may stay NTZ, but both denote the same instants (wall-as-UTC)
    assert dict(got.dtypes)["ts"] == "timestamp"
    from servihabitat_etl_spyke_spark.functions.core import epoch_micros
    s_min, s_max = got.agg(F.min(epoch_micros(got, "ts")),
                           F.max(epoch_micros(got, "ts"))).first()
    b_min, b_max = batch.agg(F.min(epoch_micros(batch, "ts")),
                             F.max(epoch_micros(batch, "ts"))).first()
    assert (s_min, s_max) == (b_min, b_max)


def test_stream_topic_subscription(spark, sf_dir, tmp_path):
    stream = read_event_stream(spark, sf_dir).withColumn(
        "topic", F.concat(F.lit("notifications/event/create/"),
                          F.col("event_type")))
    sub = topic_filter(stream, "notifications/+/create/click/#")
    got = _run_stream(sub, "ev_sub", tmp_path)
    batch = load_table(spark, sf_dir, "events")
    assert got.count() == batch.filter(F.col("event_type") == "click").count()
    assert got.count() > 0


def test_tumbling_stream_matches_batch(spark, sf_dir, tmp_path):
    stream = read_event_stream(spark, sf_dir)
    agg = tumbling_counts_stream(stream, "1 hour", "10 minutes")
    got = _run_stream(agg, "ev_tumble", tmp_path, output_mode="complete")
    batch = (load_table(spark, sf_dir, "events")
             .groupBy(F.window("ts", "1 hour"), "event_type")
             .agg(F.count("*").alias("cnt")))
    g = {(r["window"]["start"], r["event_type"]): r["cnt"]
         for r in got.collect()}
    b = {(r["window"]["start"], r["event_type"]): r["cnt"]
         for r in batch.collect()}
    assert g == b and len(g) > 0


def test_edge_detect_stream_matches_batch(spark, sf_dir, tmp_path):
    stream = read_event_stream(spark, sf_dir)
    got = _run_stream(edge_detect_stream(stream), "ev_edges", tmp_path)
    batch = QUERIES["edge_detection"](spark, sf_dir)
    g = sorted((r.user_id, r.event_id, r.edge) for r in got.collect())
    b = sorted((r.user_id, r.event_id, r.edge) for r in batch.collect())
    assert g == b and len(g) > 0


def test_state_machine_stream_matches_fold(spark, sf_dir, tmp_path):
    stream = read_event_stream(spark, sf_dir)
    got = _run_stream(state_machine_stream(stream, USER_LIFECYCLE),
                      "ev_sm", tmp_path, output_mode="update")
    batch = state_machine_fold(
        load_table(spark, sf_dir, "events"), USER_LIFECYCLE)
    g = {r.user_id: r.state for r in got.collect()}
    b = {r.user_id: r.final_state for r in batch.collect()}
    assert g == b and len(g) > 0


# ---------------------------------------------------------------------------
# T6: machine definition semantics (pure)
# ---------------------------------------------------------------------------

def test_state_machine_entries_stream_matches_batch(spark, sf_dir, tmp_path):
    stream = read_event_stream(spark, sf_dir)
    got = _run_stream(state_machine_entries_stream(stream, USER_LIFECYCLE),
                      "ev_sm_entries", tmp_path)
    batch = state_machine_entry_events(
        load_table(spark, sf_dir, "events"), USER_LIFECYCLE)
    cols = ("user_id entry_seq event_id current_state path emitted_from "
            "machine definition".split())
    g = sorted(tuple(r[c] for c in cols) for r in got.collect())
    b = sorted(tuple(r[c] for c in cols) for r in batch.collect())
    assert g == b and len(g) > 0


def test_state_machine_entry_events_exact(spark):
    """Hand-checked trajectory: entries fire on spawn + every state CHANGE;
    unhandled events (the reference's ignored INC/DEC/SET) fire nothing."""
    m = StateMachine("idle", {("idle", "CHANGE"): "waiting",
                              ("waiting", "RESET"): "idle"})
    rows = [  # (user, ts-ordinal stored in event_id for ordering)
        (1, 1, "noop"), (1, 2, "CHANGE"), (1, 3, "CHANGE"), (1, 4, "RESET"),
        (2, 5, "noop"),
    ]
    ev = spark.createDataFrame(
        [(u, e, t, e) for u, e, t in rows],
        "user_id BIGINT, event_id BIGINT, event_type STRING, ts BIGINT")
    out = state_machine_entry_events(ev, m, definition="sampleMachine")
    got = [(r.user_id, r.entry_seq, r.event_id, r.current_state)
           for r in out.orderBy("user_id", "entry_seq").collect()]
    assert got == [
        (1, 1, None, "idle"),       # spawn entry
        (1, 2, 2, "waiting"),       # CHANGE
        (1, 3, 4, "idle"),          # RESET (second CHANGE was unhandled
                                    # in 'waiting' -> no entry)
        (2, 1, None, "idle"),       # spawn only; noop fires nothing
    ]
    one = out.filter(F.col("user_id") == 1).first()
    assert one.path == "stateMachines/state/entry"
    assert one.emitted_from == "state-machine"
    assert one.machine == "machine-1"
    assert one.definition == "sampleMachine"


def test_state_machine_step_semantics():
    m = StateMachine("off", {("off", "on"): "on", ("on", "off"): "off"})
    assert m.step("off", "on") == "on"
    assert m.step("off", "bogus") == "off"      # unhandled events ignored
    assert m.step("on", "on") == "on"


# ---------------------------------------------------------------------------
# streaming sinks: keyed upsert + watermarked dedup
# ---------------------------------------------------------------------------

def test_stream_keyed_upsert_matches_batch(spark, sf_dir, tmp_path):
    from servihabitat_etl_spyke_spark.operators.etl import keyed_upsert
    from servihabitat_etl_spyke_spark.streaming.events import read_event_stream
    from servihabitat_etl_spyke_spark.streaming.sinks import stream_keyed_upsert

    stream = read_event_stream(spark, sf_dir).select(
        "event_id", "user_id", "event_type")
    q = stream_keyed_upsert(stream, str(tmp_path / "snap"), "event_id",
                            str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    got = spark.read.parquet(str(tmp_path / "snap"))
    batch = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type")
    expect = keyed_upsert(None, batch, key="event_id")
    assert got.count() == expect.count()
    assert got.exceptAll(expect).count() == 0


def test_stream_dedup_suppresses_duplicates(spark, sf_dir, tmp_path):
    from servihabitat_etl_spyke_spark.streaming.events import read_event_stream
    from servihabitat_etl_spyke_spark.streaming.sinks import stream_dedup

    # duplicate every event by unioning the source with itself
    base = read_event_stream(spark, sf_dir)
    doubled = base.union(read_event_stream(spark, sf_dir))
    deduped = stream_dedup(doubled, ["event_id"], event_time_col="ts")
    got = _run_stream(deduped, "ev_dedup", tmp_path)
    batch = load_table(spark, sf_dir, "events")
    assert got.count() == batch.select("event_id").distinct().count()


def test_event_store_partition_pruning(spark, sf_dir, tmp_path):
    from servihabitat_etl_spyke_spark.streaming.events import (
        read_event_store, route_envs, write_event_store)
    ev = load_table(spark, sf_dir, "events").withColumn(
        "environment", F.when(F.col("event_id") % 3 == 0, "*")
        .when(F.col("event_id") % 3 == 1, "dev").otherwise("prod"))
    routed = route_envs(ev)
    path = str(tmp_path / "event_store")
    write_event_store(routed, path)

    got = read_event_store(spark, path, env="dev")
    plan = got._jdf.queryExecution().executedPlan().toString()
    # env filter must prune at the partition level, not post-scan
    assert "PartitionFilters: [" in plan and "env" in plan.split(
        "PartitionFilters:")[1][:200]
    # fan-out correctness: dev = dev rows + '*' rows
    expect = ev.filter(F.col("environment").isin("dev", "*")).count()
    assert got.count() == expect

    # date range prunes too
    some_date = routed.selectExpr("to_date(ts) d").groupBy("d").count() \
        .orderBy(F.col("count").desc()).first()["d"]
    ranged = read_event_store(spark, path, env="prod",
                              date_from=str(some_date), date_to=str(some_date))
    plan2 = ranged._jdf.queryExecution().executedPlan().toString()
    assert "event_date" in plan2.split("PartitionFilters:")[1][:300]
    assert ranged.count() > 0


def test_event_store_append_preserves_prior_partitions(spark, sf_dir, tmp_path):
    from servihabitat_etl_spyke_spark.streaming.events import (
        read_event_store, route_envs, write_event_store)
    ev = load_table(spark, sf_dir, "events").withColumn(
        "environment", F.lit("dev"))
    routed = route_envs(ev)
    half_a = routed.filter(F.col("event_id") % 2 == 0)
    half_b = routed.filter(F.col("event_id") % 2 == 1)
    path = str(tmp_path / "append_store")
    write_event_store(half_a, path)
    write_event_store(half_b, path)      # append: must NOT wipe half_a
    got = read_event_store(spark, path, env="dev")
    assert got.count() == routed.count()


def test_stream_interval_join_matches_batch(spark, sf_dir, tmp_path):
    """Watermarked stream-stream join produces exactly the batch
    interval_join pairs (clicks in the 10 minutes before each error)."""
    from servihabitat_etl_spyke_spark.operators.temporal import interval_join
    from servihabitat_etl_spyke_spark.streaming.joins import (
        stream_interval_join)

    def sides(src):
        errors = (src.filter(F.col("event_type") == "error")
                  .select(F.col("event_id").alias("err_id"), "user_id",
                          "ts"))
        clicks = (src.filter(F.col("event_type") == "click")
                  .select(F.col("event_id").alias("click_id"), "user_id",
                          F.col("ts").alias("cts")))
        return errors, clicks

    s_err, s_clk = sides(read_event_stream(spark, sf_dir))
    joined = stream_interval_join(s_err, s_clk, on=["user_id"],
                                  left_ts="ts", right_ts="cts",
                                  lower_sec=-600, upper_sec=0)
    got = _run_stream(joined.select("err_id", "click_id"),
                      "ev_ssjoin", tmp_path)
    b_err, b_clk = sides(load_table(spark, sf_dir, "events"))
    batch = interval_join(b_err, b_clk, on=["user_id"], left_ts="ts",
                          right_ts="cts", lower_sec=-600, upper_sec=0)
    g = sorted((r["err_id"], r["click_id"]) for r in got.collect())
    b = sorted((r["err_id"], r["click_id"])
               for r in batch.select("err_id", "click_id").collect())
    assert g == b and len(g) > 0


def test_stream_rollup_upsert_matches_batch(spark, sf_dir, tmp_path):
    """Incrementally maintained rollup equals the one-shot batch rollup
    (counts and sums merge across micro-batches)."""
    from servihabitat_etl_spyke_spark.streaming.sinks import (
        stream_rollup_upsert)
    stream = read_event_stream(spark, sf_dir)
    q = stream_rollup_upsert(stream, str(tmp_path / "rollup"),
                             str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    got = spark.read.parquet(str(tmp_path / "rollup"))
    batch = (load_table(spark, sf_dir, "events")
             .groupBy(F.window(F.col("ts").cast("timestamp"), "1 hour")
                      .alias("_w"), "event_type")
             .agg(F.count("*").alias("cnt"),
                  F.sum("value").alias("sum_value")))
    g = {(r["win_start"], r["event_type"]): (r["cnt"], round(r["sum_value"], 6))
         for r in got.collect()}
    b = {(r["_w"]["start"], r["event_type"]): (r["cnt"], round(r["sum_value"], 6))
         for r in batch.collect()}
    assert len(g) == len(b) > 0
    assert set(g) == set(b)
    for k in g:
        assert g[k][0] == b[k][0]
        assert abs(g[k][1] - b[k][1]) < 1e-6
    # second pass with a fresh checkpoint replays the source into the SAME
    # store: the merge path must sum with existing rows (counts double)
    q2 = stream_rollup_upsert(read_event_stream(spark, sf_dir),
                              str(tmp_path / "rollup"),
                              str(tmp_path / "ckpt2"))
    q2.awaitTermination(120)
    got2 = {(r["win_start"], r["event_type"]): r["cnt"]
            for r in spark.read.parquet(str(tmp_path / "rollup")).collect()}
    assert got2 == {k: 2 * cnt for k, (cnt, _s) in g.items()}


@pytest.mark.parametrize("how", ["temporary", "partial"])
def test_stream_rollup_upsert_killed_first_write(spark, tmp_path,
                                                 kill_next_parquet_write,
                                                 how):
    """A driver killed during the sink's FIRST store write leaves only
    Spark's '_temporary/', or some part files and no '_SUCCESS'. The
    first write is staged like every other, so the store reads as
    absent, and the replayed micro-batch (same checkpoint) lands
    exactly the pure-Python rollup of the events — not a failing read
    of a half-written store, nor a double count of its surviving rows."""
    import datetime as dt
    import os

    from servihabitat_etl_spyke_spark.operators.etl import recover_snapshot
    from servihabitat_etl_spyke_spark.streaming.sinks import (
        stream_rollup_upsert)

    events = [(dt.datetime(2024, 1, 1, h, m), et, float(h * 10 + m))
              for h in (1, 2, 3) for m in (5, 40) for et in ("a", "b")]
    schema = "ts timestamp, event_type string, value double"
    src, store = str(tmp_path / "src"), str(tmp_path / "rollup")
    spark.createDataFrame(events, schema).write.parquet(src)

    def run():
        return stream_rollup_upsert(
            spark.readStream.schema(schema).parquet(src), store,
            str(tmp_path / "ckpt")).awaitTermination(120)

    kill_next_parquet_write(how)
    with pytest.raises(Exception, match="simulated driver kill"):
        run()
    assert not recover_snapshot(store)
    assert not os.path.exists(store)

    run()                                   # the replay
    want = {}
    for ts, et, v in events:
        k = (ts.replace(minute=0), et)
        cnt, total = want.get(k, (0, 0.0))
        want[k] = (cnt + 1, total + v)
    got = {(r["win_start"], r["event_type"]): (r["cnt"], r["sum_value"])
           for r in spark.read.parquet(store).collect()}
    assert got == want


@pytest.fixture()
def crash_next_sink_swap(monkeypatch, kill_next_parquet_write):
    """Arm the next store swap of a stream sink
    (``sinks._overwrite_via_tmp``) to crash, once:

    - ``"before"``: raise before the swap starts;
    - ``"inside"``: kill its staging write (only ``_temporary/`` left),
      so it raises before the first rename;
    - ``"after"``: raise after the swap returned.

    Later swaps run normally."""
    from servihabitat_etl_spyke_spark.streaming import sinks

    real = sinks._overwrite_via_tmp

    def arm(when: str) -> None:
        def crashing(*args, **kwargs):
            monkeypatch.setattr(sinks, "_overwrite_via_tmp", real)
            if when == "inside":
                kill_next_parquet_write("temporary")
            if when != "before":
                real(*args, **kwargs)
            raise RuntimeError(f"simulated crash {when} the store swap")

        monkeypatch.setattr(sinks, "_overwrite_via_tmp", crashing)

    return arm


def _additive_sink_case(spark, name):
    """``(start, schema, rows, read, twin)`` for one additive merge sink:
    ``start(stream, store, checkpoint)`` starts it, ``read(store)`` reads
    the store and ``twin(rows)`` is what one application of ``rows``
    must leave there."""
    import datetime as dt

    from servihabitat_etl_spyke_spark.operators.curation import gate_funnel
    from servihabitat_etl_spyke_spark.operators.scale import cms_sketch
    from servihabitat_etl_spyke_spark.streaming import sinks

    if name == "rollup":
        schema = "ts timestamp, event_type string, value double"

        def twin(rows):                     # pure-Python rollup
            out = {}
            for ts, et, v in rows:
                k = (ts.replace(minute=0), et)
                cnt, total = out.get(k, (0, 0.0))
                out[k] = (cnt + 1, total + v)
            return spark.createDataFrame(
                [k + v for k, v in out.items()],
                "win_start timestamp, event_type string, cnt long, "
                "sum_value double")

        rows = [(dt.datetime(2024, 1, 1, h, m), et, float(h * 10 + m))
                for h in (1, 2) for m in (5, 40) for et in ("a", "b")]
        return (sinks.stream_rollup_upsert, schema, rows,
                spark.read.parquet, twin)
    if name == "cms":
        schema = "item string"
        return (lambda st, p, c: sinks.stream_cms_upsert(st, p, c, d=4, w=64),
                schema, [(f"i{j % 5}",) for j in range(20)],
                spark.read.parquet,
                lambda rows: cms_sketch(spark.createDataFrame(rows, schema),
                                        "item", d=4, w=64))

    def gates():
        return [("a_ok", F.col("a") >= 20), ("c_ok", F.col("c") >= 10)]

    schema = "doc_id long, a long, c long"
    return (lambda st, p, c: sinks.stream_funnel_upsert(st, p, c,
                                                        gates=gates()),
            schema, [(1, 10, 5), (2, 30, 5), (3, 30, 50), (4, 25, 50)],
            lambda p: sinks.read_funnel(spark, p, gates()),
            lambda rows: gate_funnel(spark.createDataFrame(rows, schema),
                                     gates()))


@pytest.mark.parametrize("name", ["rollup", "cms", "funnel"])
def test_additive_sink_replay_after_swap_crash_applies_once(
        spark, tmp_path, crash_next_sink_swap, name):
    """A crash right after an additive sink's store swap returned leaves
    the batch merged in the store while Spark has not committed it, so
    the restart on the same checkpoint replays it. The batch id swaps in
    with the data, so the replay is skipped and the store equals ONE
    application of the events (each rollup count 2, not 4). A
    checkpoint removed and re-created at the same path is a new query:
    the deliberate re-ingestion applies and every count doubles."""
    import os
    import shutil

    start, schema, rows, read, twin = _additive_sink_case(spark, name)
    src, store, ckpt = (str(tmp_path / n) for n in ("src", "store", "ckpt"))
    spark.createDataFrame(rows, schema).write.parquet(src)

    def run():
        start(spark.readStream.schema(schema).parquet(src), store,
              ckpt).awaitTermination(120)

    def assert_store_is(want):
        got = read(store).select(*want.columns)
        assert (sorted(map(tuple, got.collect()))
                == sorted(map(tuple, want.collect())))

    crash_next_sink_swap("after")
    with pytest.raises(Exception, match="simulated crash after"):
        run()
    run()                                   # the replay
    assert_store_is(twin(rows))

    shutil.rmtree(ckpt)
    os.makedirs(ckpt)
    run()
    assert_store_is(twin(rows + rows))


def test_stream_incremental_neardup_matches_batch(spark, sf_dir, tmp_path):
    """Ingest-time near-dup: the crawl (doc_id % 5 == 0) arrives as a
    stream and must find exactly the new-vs-corpus pairs the batch
    incremental operator finds (same signatures, same Jaccard)."""
    from servihabitat_etl_spyke_spark.operators.dedup import (
        incremental_neardup, minhash_signatures)
    from servihabitat_etl_spyke_spark.streaming.joins import (
        stream_incremental_neardup)

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    stored = docs.filter(F.col("doc_id") % 5 != 0)
    stored_sig = minhash_signatures(stored)

    stream = (spark.readStream.schema(
                load_table(spark, sf_dir, "documents").schema)
              .option("pathGlobFilter", "documents.parquet")
              .parquet(sf_dir)
              .select("doc_id", "text")
              .filter(F.col("doc_id") % 5 == 0))
    assert stream.isStreaming
    # r7: the no-timestamp stream CANNOT be bounded automatically, so
    # the shortest call must raise instead of silently accumulating
    # cross-run pair state (r6 verdict item 6)
    with pytest.raises(ValueError, match="no timestamp column"):
        stream_incremental_neardup(stream, stored, stored_sig)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in _run_stream(
        stream_incremental_neardup(stream, stored, stored_sig,
                                   watermark=None),   # explicit opt-out
        "inc_neardup", tmp_path).collect()}

    # batch twin, restricted to new-vs-CORPUS pairs (the streaming form
    # documents new-vs-new as out of scope per micro-batch)
    new = docs.filter(F.col("doc_id") % 5 == 0)
    batch = incremental_neardup(new, stored, stored_sig, threshold=0.5)
    want = {(r["id_a"], r["id_b"]): r["jaccard"]
            for r in batch.collect()
            if (r["id_a"] % 5 == 0) != (r["id_b"] % 5 == 0)}
    assert got == want
    assert want, "fixture must contain cross pairs for the twin to prove"


def test_stream_cms_upsert_matches_batch_sketch(spark, sf_dir, tmp_path):
    """The incrementally maintained CMS equals the one-shot batch sketch
    of the same stream (cell-wise mergeability), and a replay into the
    same store doubles every cell."""
    from servihabitat_etl_spyke_spark.operators.scale import cms_sketch
    from servihabitat_etl_spyke_spark.streaming.sinks import (
        stream_cms_upsert)
    stream = read_event_stream(spark, sf_dir).select(
        F.col("event_type").alias("item"))
    q = stream_cms_upsert(stream, str(tmp_path / "cms"),
                          str(tmp_path / "ckpt"), d=4, w=64)
    q.awaitTermination(120)
    got = sorted(map(tuple,
                     spark.read.parquet(str(tmp_path / "cms")).collect()))
    batch = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("item"))
    want = sorted(map(tuple, cms_sketch(batch, "item", d=4, w=64).collect()))
    assert got == want and len(got) > 0
    q2 = stream_cms_upsert(
        read_event_stream(spark, sf_dir).select(
            F.col("event_type").alias("item")),
        str(tmp_path / "cms"), str(tmp_path / "ckpt2"), d=4, w=64)
    q2.awaitTermination(120)
    got2 = sorted(map(tuple,
                      spark.read.parquet(str(tmp_path / "cms")).collect()))
    assert got2 == [(r, c, 2 * cnt) for r, c, cnt in got]


def test_stream_hll_upsert_matches_batch_registers(spark, sf_dir, tmp_path):
    """The incrementally maintained HLL register table equals the batch
    sketch of the whole stream (per-bucket max-mergeability), and a
    replay leaves it UNCHANGED — max is idempotent, unlike counts."""
    from servihabitat_etl_spyke_spark.operators.scale import hll_registers
    from servihabitat_etl_spyke_spark.streaming.sinks import (
        stream_hll_upsert)
    stream = read_event_stream(spark, sf_dir).select(
        F.col("event_type").alias("item"))
    q = stream_hll_upsert(stream, str(tmp_path / "hll"),
                          str(tmp_path / "ckpt"), b=6)
    q.awaitTermination(120)
    got = sorted(map(tuple,
                     spark.read.parquet(str(tmp_path / "hll")).collect()))
    batch = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("item"))
    want = sorted(map(tuple, hll_registers(batch, "item", b=6).collect()))
    assert got == want and len(got) > 0
    q2 = stream_hll_upsert(
        read_event_stream(spark, sf_dir).select(
            F.col("event_type").alias("item")),
        str(tmp_path / "hll"), str(tmp_path / "ckpt2"), b=6)
    q2.awaitTermination(120)
    got2 = sorted(map(tuple,
                      spark.read.parquet(str(tmp_path / "hll")).collect()))
    assert got2 == got


def test_session_window_stream_matches_batch(spark, sf_dir, tmp_path):
    """session_window through the REAL readStream path (watermarked,
    availableNow) must equal the batch session_window aggregation — the
    one window family that still lacked a streaming run."""
    from servihabitat_etl_spyke_spark.streaming.windows import (
        session_window_agg)
    stream = read_event_stream(spark, sf_dir)
    agg = (stream.withWatermark("ts", "10 minutes")
           .groupBy(F.session_window("ts", "30 minutes"), "user_id")
           .agg(F.count("*").alias("n_events")))
    got = _run_stream(agg, "ev_session", tmp_path, output_mode="complete")
    batch = session_window_agg(load_table(spark, sf_dir, "events"),
                               gap="30 minutes")
    g = {(r["session_window"]["start"], r["user_id"]): r["n_events"]
         for r in got.collect()}
    b = {(r["session_window"]["start"], r["user_id"]): r["n_events"]
         for r in batch.collect()}
    assert g == b and len(g) > 0


def test_sliding_window_stream_matches_batch(spark, sf_dir, tmp_path):
    """Hopping windows through the real readStream path must equal the
    batch sliding_counts aggregation (every event lands in
    duration/slide overlapping windows either way)."""
    from servihabitat_etl_spyke_spark.streaming.windows import sliding_counts
    stream = read_event_stream(spark, sf_dir)
    agg = (stream.withWatermark("ts", "10 minutes")
           .groupBy(F.window("ts", "1 hour", "30 minutes"), "event_type")
           .agg(F.count("*").alias("cnt")))
    got = _run_stream(agg, "ev_slide", tmp_path, output_mode="complete")
    batch = sliding_counts(load_table(spark, sf_dir, "events"),
                           "1 hour", "30 minutes")
    g = {(r["window"]["start"], r["event_type"]): r["cnt"]
         for r in got.collect()}
    b = {(r["window"]["start"], r["event_type"]): r["cnt"]
         for r in batch.collect()}
    assert g == b and len(g) > 0


def test_stream_topk_upsert_matches_batch(spark, sf_dir, tmp_path):
    """The continuously-maintained per-group top-k store must equal the
    batch top-k of everything streamed (mergeability: topk(A ∪ B) ==
    topk(topk(A) ∪ topk(B))), and re-merging the stored state with an
    already-seen batch must be a no-op (idempotent replay)."""
    from pyspark.sql.window import Window as W
    from servihabitat_etl_spyke_spark.streaming.events import (
        read_event_stream)
    from servihabitat_etl_spyke_spark.streaming.sinks import (
        stream_topk_upsert)
    stream = read_event_stream(spark, sf_dir).select(
        "event_type", "event_id", "value")
    q = stream_topk_upsert(stream, str(tmp_path / "topk"),
                           str(tmp_path / "ck"), k=3)
    q.awaitTermination(120)
    got = sorted(map(tuple,
                     spark.read.parquet(str(tmp_path / "topk"))
                     .select("event_type", "event_id", "value").collect()))
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy(F.col("value").desc(),
                                            "event_id")
    ref = sorted(map(tuple, ev.select(
        "event_type", "event_id", "value",
        F.row_number().over(w).alias("rnk"))
        .filter(F.col("rnk") <= 3).drop("rnk").collect()))
    assert got == ref and len(got) > 0
    # idempotent replay: streaming the SAME events again changes nothing
    q2 = stream_topk_upsert(read_event_stream(spark, sf_dir).select(
        "event_type", "event_id", "value"), str(tmp_path / "topk"),
        str(tmp_path / "ck2"), k=3)
    q2.awaitTermination(120)
    again = sorted(map(tuple,
                       spark.read.parquet(str(tmp_path / "topk"))
                       .select("event_type", "event_id", "value").collect()))
    assert again == ref


def test_stream_topk_upsert_cleans_tmp_and_max_value_wins(spark, tmp_path):
    """The merge must delete its '._tmp' staging directory after the
    final overwrite (no stale dir leaked per sink path), and a re-arrival
    of the SAME (group, id) with a DIFFERENT value must resolve
    deterministically to max(value) — not an arbitrary dropDuplicates
    survivor. Regression: r4 ADVICE (tmp leak; nondeterministic update)."""
    import os
    from servihabitat_etl_spyke_spark.streaming.sinks import (
        stream_topk_upsert)
    src1 = str(tmp_path / "src1")
    src2 = str(tmp_path / "src2")
    spark.createDataFrame(
        [("a", 1, 5.0), ("a", 2, 4.0), ("a", 3, 3.0)],
        "event_type string, event_id long, value double"
    ).write.parquet(src1)
    # id=3 re-arrives with a HIGHER value: must displace id=2 in the cut
    spark.createDataFrame(
        [("a", 3, 9.0)],
        "event_type string, event_id long, value double").write.parquet(src2)
    store = str(tmp_path / "topk")
    schema = "event_type string, event_id long, value double"
    for i, src in enumerate((src1, src2)):
        q = stream_topk_upsert(
            spark.readStream.schema(schema).parquet(src),
            store, str(tmp_path / f"ck{i}"), k=2)
        q.awaitTermination(120)
    got = sorted(map(tuple, spark.read.parquet(store).collect()))
    assert got == [("a", 1, 5.0), ("a", 3, 9.0)]
    assert not os.path.exists(store + "._tmp")


def test_stream_funnel_upsert_matches_batch_funnel(spark, tmp_path):
    """The continuously-maintained funnel must equal the batch
    gate_funnel of everything streamed: kill counts are additive across
    micro-batches because each doc is charged to exactly one stage
    exactly once."""
    from servihabitat_etl_spyke_spark.operators.curation import gate_funnel
    from servihabitat_etl_spyke_spark.streaming.sinks import (
        read_funnel, stream_funnel_upsert)

    def mk_gates():
        return [("a_ok", F.col("a") >= 20), ("c_ok", F.col("c") >= 10)]

    rows1 = [(1, 10, 5), (2, 30, 5), (3, 30, 50)]
    rows2 = [(4, None, 50), (5, 25, 50), (6, 31, 2)]
    schema = "doc_id long, a long, c long"
    src1, src2 = str(tmp_path / "s1"), str(tmp_path / "s2")
    spark.createDataFrame(rows1, schema).write.parquet(src1)
    spark.createDataFrame(rows2, schema).write.parquet(src2)
    store = str(tmp_path / "funnel")
    for i, src in enumerate((src1, src2)):
        q = stream_funnel_upsert(
            spark.readStream.schema(schema).parquet(src), store,
            str(tmp_path / f"ck{i}"), gates=mk_gates())
        q.awaitTermination(120)
    got = [tuple(r) for r in read_funnel(spark, store, mk_gates()).collect()]
    batch = spark.createDataFrame(rows1 + rows2, schema)
    want = [tuple(r) for r in gate_funnel(batch, mk_gates()).collect()]
    assert got == want and len(got) == 2


def test_stateful_handlers_survive_chunked_groups(spark, sf_dir, tmp_path):
    """A group larger than arrow.maxRecordsPerBatch arrives as several
    Arrow chunks with no cross-chunk time order; the handlers must
    concat-then-sort the WHOLE group or they fold later events before
    earlier ones (diverging from the batch twins)."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")    # force multi-chunk groups (~190 rows/key)
    try:
        stream = read_event_stream(spark, sf_dir)
        got = _run_stream(edge_detect_stream(stream),
                          "ev_edges_chunked", tmp_path)
        batch = QUERIES["edge_detection"](spark, sf_dir)
        g = sorted((r.user_id, r.event_id, r.edge) for r in got.collect())
        b = sorted((r.user_id, r.event_id, r.edge) for r in batch.collect())
        assert g == b and len(g) > 0
        stream2 = read_event_stream(spark, sf_dir)
        got2 = _run_stream(state_machine_stream(stream2, USER_LIFECYCLE),
                           "ev_sm_chunked", tmp_path, output_mode="update")
        fold = state_machine_fold(
            load_table(spark, sf_dir, "events"), USER_LIFECYCLE)
        g2 = {r.user_id: r.state for r in got2.collect()}
        b2 = {r.user_id: r.final_state for r in fold.collect()}
        assert g2 == b2 and len(g2) > 0
    finally:
        spark.conf.set(key, old)


def test_edge_detect_stream_custom_key_col(spark, sf_dir, tmp_path):
    """The output key column is named after key_col, not hardcoded
    'user_id'."""
    from servihabitat_etl_spyke_spark.streaming.events import (
        read_event_stream)
    stream = read_event_stream(spark, sf_dir).withColumnRenamed(
        "user_id", "device_id")
    out = edge_detect_stream(stream, key_col="device_id")
    assert "device_id" in out.columns and "user_id" not in out.columns


def test_changes_only_null_safe(spark):
    """[10, NULL, 10] per key: the change TO null must emit, and the 10
    after the null run must NOT re-emit (it equals the last value only
    under null-UNSAFE comparison confusion); first row always emits."""
    from servihabitat_etl_spyke_spark.streaming.topics import changes_only
    df = spark.createDataFrame(
        [(1, 1, 10.0), (1, 2, None), (1, 3, 10.0), (2, 1, None), (2, 2, None)],
        "key long, seq long, value double")
    got = sorted((r.key, r.seq) for r in
                 changes_only(df, ["key"], "value", ["seq"]).collect())
    # key 1: seq1 first, seq2 change-to-null, seq3 change-back -> all 3
    # key 2: seq1 first; seq2 null==null unchanged -> suppressed
    assert got == [(1, 1), (1, 2), (1, 3), (2, 1)]


def test_r5_review_guards_sinks_and_flow(spark, sf_dir, tmp_path):
    """Round-5 review fixes: NULL-order rows keep their payload in the
    keyed upsert, unsupported order types raise at batch time, the
    flow filter rejects NULL predicate results, and flow_push refuses
    unknown keys."""
    import pytest
    from servihabitat_etl_spyke_spark.operators.flow import (
        flow_filter, flow_push)
    from servihabitat_etl_spyke_spark.streaming.sinks import (
        stream_keyed_upsert)

    # NULL-order rows must not null the stored payload: key 2's only
    # row has ts NULL, and must come back with its payload intact
    src_dir = tmp_path / "null_order_src"
    spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", "a"), (1, "2024-01-02 00:00:00", "b"),
         (2, None, "keepme")],
        "id long, ts string, payload string") \
        .withColumn("ts", F.col("ts").cast("timestamp")) \
        .write.mode("overwrite").parquet(str(src_dir))
    stream = spark.readStream.schema(
        "id long, ts timestamp, payload string").parquet(str(src_dir))
    q = stream_keyed_upsert(stream, str(tmp_path / "no_snap"), "id",
                            str(tmp_path / "no_ckpt"), order_col="ts")
    q.awaitTermination(120)
    got = {r["id"]: r["payload"]
           for r in spark.read.parquet(str(tmp_path / "no_snap")).collect()}
    assert got[1] == "b" and got[2] == "keepme"

    # unsupported order_col type fails at BUILD time (r6: both checks
    # depend only on the stream schema — failing inside foreachBatch
    # turned a caller mistake into a StreamingQueryException on a live
    # query with its checkpoint dir already created)
    stream2 = spark.readStream.schema(
        "id long, ts timestamp, payload string").parquet(str(src_dir))
    with pytest.raises(ValueError, match="unsupported type"):
        stream_keyed_upsert(stream2, str(tmp_path / "bad_snap"), "id",
                            str(tmp_path / "bad_ckpt"),
                            order_col="payload")

    # flow_filter: NULL predicate result rejects the row
    df = spark.createDataFrame([(1, 1.0), (2, None), (3, 0.0)],
                               "id long, flag double")
    kept = flow_filter(df, lambda p: p["flag"]).collect()
    assert [r.id for r in kept] == [1]

    # flow_push: unknown keys raise instead of silently dropping data
    with pytest.raises(ValueError, match="typo_col"):
        flow_push(df, {"id": 9, "typo_col": "x"})
    out = flow_push(df, {"id": 9}).collect()
    assert len(out) == 4


def test_mqtt_broker_contract_and_matcher_parity(spark):
    """T1 transport (r6): the reference authenticate decision table
    (anonymous ok when auth off; refused when auth on and creds missing;
    any supplied pair accepted — the reference's literal TODO), the dual
    listener-pair shape, and routing parity: the in-process broker and
    the DataFrame subscription use the SAME wildcard compiler, so they
    agree on every topic/pattern pair."""
    import pytest as _pytest
    from pyspark.sql import functions as F
    from servihabitat_etl_spyke_spark.streaming.broker import (
        BrokerSim, MqttAuthError, start_mqtt)
    from servihabitat_etl_spyke_spark.streaming.topics import topic_filter

    brokers = start_mqtt()
    assert [(b.mqtt_port, b.websocket_port) for b in brokers] == \
        [(1883, 3003), (8883, 4003)]

    open_b = BrokerSim(auth_required=False)
    open_b.connect("anon")                       # anonymous ok
    locked = BrokerSim(auth_required=True)
    with _pytest.raises(MqttAuthError):
        locked.connect("anon")                   # refused: requires auth
    with _pytest.raises(MqttAuthError):
        locked.connect("halfuser", username="u")     # missing password
    locked.connect("user", username="u", password="whatever")  # TODO-auth
    assert "mqtt requires auth" in " ".join(locked.log)

    # routing parity with the Spark-side subscription — patterns OVERLAP
    # deliberately (sensors/# also matches what sensors/+/temp matches):
    # aedes delivers once per matching SUBSCRIPTION, so the broker and
    # the per-pattern topic_filter composition must agree on duplicates
    topics = ["sensors/room1/temp", "sensors/room2/temp",
              "sensors/room1/hum", "alerts/fire", "sensors"]
    pats = ("sensors/+/temp", "sensors/#", "alerts/#")
    for p in pats:
        open_b.subscribe("anon", p)
    for t in topics:
        open_b.publish(t, t.upper())
    got = sorted(t for t, _ in open_b.drain("anon"))
    df = spark.createDataFrame([(t,) for t in topics], "topic string")
    spark_got = sorted(
        r.topic for pat in pats for r in topic_filter(df, pat).collect())
    assert got == spark_got
    # sensors/room1/temp arrives TWICE (two matching subscriptions)
    assert got.count("sensors/room1/temp") == 2
    assert "sensors" in got          # sensors/# matches the parent too


def test_stream_incremental_neardup_watermarked_matches_batch(
        spark, sf_dir, tmp_path):
    """Round-6 review fix: the watermarked variant (bounded cross-run
    pair state via dropDuplicatesWithinWatermark) finds the SAME
    new-vs-corpus pairs as the unwatermarked form and the batch twin —
    the intra-batch multi-band collapse is unaffected by eviction."""
    from servihabitat_etl_spyke_spark.operators.dedup import (
        incremental_neardup, minhash_signatures)
    from servihabitat_etl_spyke_spark.streaming.joins import (
        stream_incremental_neardup)

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    stored = docs.filter(F.col("doc_id") % 5 != 0)
    stored_sig = minhash_signatures(stored)

    stream = (spark.readStream.schema(
                load_table(spark, sf_dir, "documents").schema)
              .option("pathGlobFilter", "documents.parquet")
              .parquet(sf_dir)
              .select("doc_id", "text",
                      # +1000s: an event time of exactly epoch 0 (doc 0)
                      # equals the operator's INITIAL watermark and is
                      # discarded as late — a real crawl never emits
                      # epoch-0 event times
                      F.timestamp_micros((F.col("doc_id") + 1000)
                                         * 1000000).alias("_ts"))
              .filter(F.col("doc_id") % 5 == 0))
    # DEFAULT call (watermark="auto"): the single timestamp column
    # `_ts` is resolved automatically — the daily-crawl entry point is
    # state-bounded without any opt-in (r6 verdict item 6). The
    # resolution announcement is part of the contract (r9 VERDICT #7):
    # assert it here so the suite runs warning-clean and a silently
    # vanished announcement fails the test
    with pytest.warns(UserWarning,
                      match=r"resolved to \('_ts', '2 days'\)"):
        wm_query = stream_incremental_neardup(stream, stored, stored_sig)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in _run_stream(
        wm_query, "inc_neardup_wm", tmp_path).collect()}

    new = docs.filter(F.col("doc_id") % 5 == 0)
    batch = incremental_neardup(new, stored, stored_sig, threshold=0.5)
    want = {(r["id_a"], r["id_b"]): r["jaccard"]
            for r in batch.collect()
            if (r["id_a"] % 5 == 0) != (r["id_b"] % 5 == 0)}
    assert got == want and want


def test_auto_watermark_resolution():
    """Unit contract of the r7 default-bounded state: one timestamp
    column resolves (r8: to a 2-DAY crawl-sized delay, announced via a
    warning naming column and delay so the late-drop window is
    discoverable at runtime), zero or several raise with actionable
    guidance."""
    import warnings as _warnings

    from pyspark.sql import types as T

    from servihabitat_etl_spyke_spark.streaming.joins import _auto_watermark

    one = T.StructType([T.StructField("doc_id", T.LongType()),
                        T.StructField("crawled_at", T.TimestampType())])
    with _warnings.catch_warnings(record=True) as seen:
        _warnings.simplefilter("always")
        assert _auto_watermark(one) == ("crawled_at", "2 days")
        assert _auto_watermark(one, "15 minutes") == ("crawled_at",
                                                      "15 minutes")
    msgs = [str(w.message) for w in seen]
    assert any("'crawled_at'" in m and "'2 days'" in m for m in msgs), msgs
    assert any("'15 minutes'" in m for m in msgs), msgs

    none = T.StructType([T.StructField("doc_id", T.LongType())])
    with pytest.raises(ValueError, match="no timestamp column"):
        _auto_watermark(none)

    two = T.StructType([T.StructField("a", T.TimestampType()),
                        T.StructField("b", T.TimestampNTZType())])
    with pytest.raises(ValueError, match="ambiguous timestamp columns"):
        _auto_watermark(two)


def test_neardup_watermark_rejects_bare_string(spark, sf_dir):
    """r7 review: only the 'auto' sentinel is a valid string — a bare
    delay like '2 hours' must raise the actionable ValueError, not
    unpack character-by-character inside withWatermark."""
    from servihabitat_etl_spyke_spark.operators.dedup import (
        minhash_signatures)
    from servihabitat_etl_spyke_spark.streaming.joins import (
        stream_incremental_neardup)

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    stored_sig = minhash_signatures(docs)
    stream = (spark.readStream.schema(docs.schema)
              .option("pathGlobFilter", "documents.parquet")
              .parquet(sf_dir).select("doc_id", "text"))
    with pytest.raises(ValueError, match="watermark='2 hours'"):
        stream_incremental_neardup(stream, docs, stored_sig,
                                   watermark="2 hours")


def test_stream_knn_graph_upsert_matches_full_rebuild(spark, sf_dir,
                                                      tmp_path):
    """Streaming twin of the ANN maintenance leg (r8): embeddings
    arrive in THREE micro-batches (bootstrap + two daily increments,
    file mtimes pin the order, maxFilesPerTrigger=1) and the persisted
    graph after the stream drains must equal a full knn_graph_ivf
    rebuild over everything under the same fixed codebook — the
    stream-vs-batch equality the other trilogy legs already pin.
    A restart on the SAME checkpoint must be a no-op (no replayed
    batch, no disjointness error)."""
    import os
    import time as _time

    from servihabitat_etl_spyke_spark.operators import similarity as SIM
    from servihabitat_etl_spyke_spark.streaming.sinks import (
        stream_knn_graph_upsert)

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 400).select("vec_id", "embedding")
    base = emb.filter(F.col("vec_id") % 4 <= 1)
    day1 = emb.filter(F.col("vec_id") % 4 == 2)
    day2 = emb.filter(F.col("vec_id") % 4 == 3)
    cents = SIM.kmeans_fit(base, k=4, iters=3)

    src = tmp_path / "feed"
    src.mkdir()
    now = _time.time()
    for i, part in enumerate((base, day1, day2)):
        p = str(src / f"b{i}.parquet")
        part.coalesce(1).write.mode("overwrite").parquet(p)
        # one mtime per FEED DIRECTORY ENTRY: the file source orders by
        # modification time, and parquet dirs carry nested files
        for root, _dirs, files in os.walk(p):
            for f in files:
                os.utime(os.path.join(root, f), (now + i, now + i))
        os.utime(p, (now + i, now + i))

    stream = (spark.readStream.schema(base.schema)
              .option("maxFilesPerTrigger", 1)
              .option("latestFirst", "false")
              .parquet(str(src / "b*.parquet")))
    q = stream_knn_graph_upsert(
        stream, str(tmp_path / "graph"), str(tmp_path / "idx"),
        str(tmp_path / "ckpt"), cents, k=5, n_probe=2)
    q.awaitTermination(180)

    got = sorted((r["query_id"], r["neighbor_id"], r["rank"])
                 for r in spark.read.parquet(
                     str(tmp_path / "graph")).collect())
    want = sorted(map(tuple, SIM.knn_graph_ivf(
        emb, k=5, n_probe=2, centroids=cents).collect()))
    assert got == want and want

    # restart on the same checkpoint: nothing new -> stored state
    # unchanged, no duplicate-id error from a replay
    stream2 = (spark.readStream.schema(base.schema)
               .option("maxFilesPerTrigger", 1)
               .parquet(str(src / "b*.parquet")))
    q2 = stream_knn_graph_upsert(
        stream2, str(tmp_path / "graph"), str(tmp_path / "idx"),
        str(tmp_path / "ckpt"), cents, k=5, n_probe=2)
    q2.awaitTermination(120)
    again = sorted((r["query_id"], r["neighbor_id"], r["rank"])
                   for r in spark.read.parquet(
                       str(tmp_path / "graph")).collect())
    assert again == want


def test_stream_knn_graph_upsert_validates_index_once_per_stream(
        spark, sf_dir, tmp_path):
    """r11 (r10 ADVICE): the index-uniformity validation
    (_index_n_probe) is an O(stored-index) aggregate; running it every
    micro-batch re-scanned an index whose only writer during the
    stream is the sink's own guard-checked appends. The sink now pins
    the width once per stream: a BOOTSTRAP stream never scans at all
    (it wrote the index itself), and a RESTARTED stream on an existing
    store validates exactly once — with the final graph still
    byte-equal to the full rebuild."""
    import os
    import time as _time

    from servihabitat_etl_spyke_spark.operators import similarity as SIM
    from servihabitat_etl_spyke_spark.streaming.sinks import (
        stream_knn_graph_upsert)

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 240).select("vec_id", "embedding")
    parts = [emb.filter(F.col("vec_id") % 4 == m) for m in range(4)]
    cents = SIM.kmeans_fit(parts[0], k=3, iters=2)

    src = tmp_path / "feed"
    src.mkdir()
    now = _time.time()

    def drop(i, part):
        p = str(src / f"b{i}.parquet")
        part.coalesce(1).write.mode("overwrite").parquet(p)
        for root, _dirs, files in os.walk(p):
            for f in files:
                os.utime(os.path.join(root, f), (now + i, now + i))
        os.utime(p, (now + i, now + i))

    real = SIM._index_n_probe
    calls = []

    def counting(index, caller):
        calls.append(caller)
        return real(index, caller)

    SIM._index_n_probe = counting
    try:
        # run 1: bootstrap + one increment — the sink wrote the index
        # itself, so NO validation scan is ever needed
        drop(0, parts[0])
        drop(1, parts[1])
        q = stream_knn_graph_upsert(
            (spark.readStream.schema(emb.schema)
             .option("maxFilesPerTrigger", 1)
             .parquet(str(src / "b*.parquet"))),
            str(tmp_path / "graph"), str(tmp_path / "idx"),
            str(tmp_path / "ckpt"), cents, k=5, n_probe=2)
        q.awaitTermination(180)
        assert calls == [], (
            f"bootstrap stream scanned the index it wrote: {calls}")

        # run 2: a fresh sink instance over the EXISTING store (the
        # restart case) with two more increments — exactly ONE
        # validation on the first batch, pinned thereafter
        drop(2, parts[2])
        drop(3, parts[3])
        q2 = stream_knn_graph_upsert(
            (spark.readStream.schema(emb.schema)
             .option("maxFilesPerTrigger", 1)
             .parquet(str(src / "b*.parquet"))),
            str(tmp_path / "graph"), str(tmp_path / "idx"),
            str(tmp_path / "ckpt"), cents, k=5, n_probe=2)
        q2.awaitTermination(180)
        assert len(calls) == 1, (
            f"restarted stream should validate exactly once, saw "
            f"{calls}")
    finally:
        SIM._index_n_probe = real

    # the caching never changes semantics: still equal to the rebuild
    got = sorted((r["query_id"], r["neighbor_id"], r["rank"])
                 for r in spark.read.parquet(
                     str(tmp_path / "graph")).collect())
    want = sorted(map(tuple, SIM.knn_graph_ivf(
        emb, k=5, n_probe=2, centroids=cents).collect()))
    assert got == want and want

    # the attestation parameter stays loud on a WRONG width: the
    # width-vs-request check runs on the attested value
    stored_idx = spark.read.parquet(str(tmp_path / "idx"))
    stored_graph = spark.read.parquet(str(tmp_path / "graph"))
    extra = (load_table(spark, sf_dir, "embeddings")
             .filter((F.col("vec_id") >= 240) & (F.col("vec_id") < 244))
             .select("vec_id", "embedding"))
    with pytest.raises(ValueError, match="n_probe"):
        SIM.knn_graph_ivf_incremental(
            stored_idx, stored_graph, extra, cents, k=5, n_probe=2,
            with_score=True, index_width_checked=3)


def test_stream_knn_graph_upsert_custom_columns_and_validate(
        spark, sf_dir, tmp_path):
    """r8 review findings: (1) the day-1 bootstrap must forward
    id_col/vec_col (it crashed on any non-default names before the
    fix); (2) `validate` must be forwardable — the bootstrap batch here
    holds only 4 vectors (< k+1 at k=5), so the second batch POISONS a
    validate=True stream with the stored-k probe error (asserted), and
    only validate=False lets the documented small-corpus case through —
    still byte-equal to the rebuild. A hardcoded operator default would
    fail this test in both directions."""
    import os
    import time as _time

    from pyspark.errors.exceptions.captured import StreamingQueryException

    from servihabitat_etl_spyke_spark.operators import similarity as SIM
    from servihabitat_etl_spyke_spark.streaming.sinks import (
        stream_knn_graph_upsert)

    emb = (load_table(spark, sf_dir, "embeddings")
           .filter(F.col("vec_id") < 60)
           .select(F.col("vec_id").alias("doc_id"),
                   F.col("embedding").alias("emb")))
    base = emb.filter(F.col("doc_id") < 4)       # 4 vectors < k+1
    day1 = emb.filter(F.col("doc_id") >= 4)
    cents = SIM.kmeans_fit(base, k=3, iters=2,
                           id_col="doc_id", vec_col="emb")

    src = tmp_path / "feed2"
    src.mkdir()
    now = _time.time()
    for i, part in enumerate((base, day1)):
        p = str(src / f"b{i}.parquet")
        part.coalesce(1).write.mode("overwrite").parquet(p)
        for root, _dirs, files in os.walk(p):
            for f in files:
                os.utime(os.path.join(root, f), (now + i, now + i))
        os.utime(p, (now + i, now + i))

    def feed():
        return (spark.readStream.schema(base.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(str(src / "b*.parquet")))

    # validate=True: batch 2 must trip the stored-k probe (max rank 3
    # on a 4-vector bootstrap < requested k=5) and kill the stream —
    # the poison-pill the forwardable flag exists to avoid
    q_bad = stream_knn_graph_upsert(
        feed(), str(tmp_path / "gbad"), str(tmp_path / "ibad"),
        str(tmp_path / "cbad"), cents, k=5, n_probe=2,
        id_col="doc_id", vec_col="emb", validate=True)
    with pytest.raises(StreamingQueryException, match="max rank"):
        q_bad.awaitTermination(180)

    q = stream_knn_graph_upsert(
        feed(), str(tmp_path / "g2"), str(tmp_path / "i2"),
        str(tmp_path / "c2"), cents, k=5, n_probe=2,
        id_col="doc_id", vec_col="emb", validate=False)
    q.awaitTermination(180)
    got = sorted((r["query_id"], r["neighbor_id"], r["rank"])
                 for r in spark.read.parquet(str(tmp_path / "g2"))
                 .collect())
    want = sorted(map(tuple, SIM.knn_graph_ivf(
        emb, k=5, n_probe=2, centroids=cents, id_col="doc_id",
        vec_col="emb").collect()))
    assert got == want and want


def _index_data_files(index_path):
    """Relative paths of the data files under a partitioned index."""
    import os

    found = []
    for root, dirs, files in os.walk(index_path):
        dirs[:] = [d for d in dirs if d[0] not in "_."]
        found += [os.path.relpath(os.path.join(root, f), index_path)
                  for f in files if f[0] not in "_."]
    return sorted(found)


def test_stream_knn_graph_upsert_self_heals_stranded_windows(
        spark, sf_dir, tmp_path, crash_next_sink_swap):
    """Crashes of the real sink around its one commit, the graph swap.
    Each store is bootstrapped from the base vectors by the sink, then
    the day-1 batch crashes and is replayed through a real stream:

    - window A, the swap's staging write killed after the index append:
      the replay deletes the index files the graph's record does not
      list, re-merges the batch, and lands the full rebuild with each
      day-1 id indexed once;
    - window B, a crash after the swap returned: the record holds the
      batch id, so the replay leaves the graph unchanged;
    - window C, a crash before the swap under checkpoint c1, then a
      MIXED feed (old + day-1 ids) under a fresh checkpoint c2: the
      stranded append is rolled back, only the day-1 rows are new, and
      the graph equals the full rebuild."""
    from servihabitat_etl_spyke_spark.operators import similarity as SIM
    from servihabitat_etl_spyke_spark.operators.etl import read_commit
    from servihabitat_etl_spyke_spark.streaming.sinks import (
        stream_knn_graph_upsert)

    emb = (load_table(spark, sf_dir, "embeddings")
           .filter(F.col("vec_id") < 200)
           .select("vec_id", "embedding"))
    base = emb.filter(F.col("vec_id") % 3 != 0)
    day1 = emb.filter(F.col("vec_id") % 3 == 0)
    cents = SIM.kmeans_fit(base, k=3, iters=2)
    n_day1 = day1.count()
    want = sorted(map(tuple, SIM.knn_graph_ivf(
        emb, k=5, n_probe=2, centroids=cents).collect()))

    def paths(tag):
        return str(tmp_path / f"{tag}_g"), str(tmp_path / f"{tag}_i")

    def run(tag, ckpt, feed):
        gp, ip = paths(tag)
        stream_knn_graph_upsert(
            spark.readStream.schema(emb.schema)
            .parquet(str(tmp_path / feed / "*.parquet")),
            gp, ip, str(tmp_path / ckpt), cents, k=5,
            n_probe=2).awaitTermination(180)

    def bootstrap_then_crash_day1(tag, when):
        base.coalesce(1).write.parquet(str(tmp_path / tag / "b0.parquet"))
        run(tag, f"{tag}_c", tag)
        day1.coalesce(1).write.parquet(str(tmp_path / tag / "b1.parquet"))
        crash_next_sink_swap(when)
        with pytest.raises(Exception, match="simulated"):
            run(tag, f"{tag}_c", tag)

    def graph(tag):
        return sorted((r["query_id"], r["neighbor_id"], r["rank"])
                      for r in spark.read.parquet(paths(tag)[0]).collect())

    def assert_day1_indexed_once(tag):
        gp, ip = paths(tag)
        idx = spark.read.parquet(ip)
        assert idx.join(day1.select("vec_id"), "vec_id",
                        "left_semi").count() == n_day1
        assert _index_data_files(ip) == read_commit(gp)["index_files"]

    # --- window A: index appended, graph swap killed ----------------
    bootstrap_then_crash_day1("wa", "inside")
    gp, ip = paths("wa")                    # the stranded append landed
    assert set(_index_data_files(ip)) > set(read_commit(gp)["index_files"])
    run("wa", "wa_c", "wa")                 # the replay
    assert graph("wa") == want and want
    assert_day1_indexed_once("wa")

    # --- window B: graph swapped, crash before Spark's commit --------
    bootstrap_then_crash_day1("wb", "after")
    before = sorted(map(tuple, spark.read.parquet(paths("wb")[0])
                        .collect()))
    run("wb", "wb_c", "wb")
    assert sorted(map(tuple, spark.read.parquet(paths("wb")[0])
                      .collect())) == before
    assert graph("wb") == want
    assert_day1_indexed_once("wb")
    assert list(read_commit(paths("wb")[0])["batches"].values()) == [1]

    # --- window C: stranded append, then a mixed feed, fresh checkpoint
    bootstrap_then_crash_day1("wc", "before")
    mixed = base.filter(F.col("vec_id") % 7 == 1).unionByName(day1)
    mixed.coalesce(1).write.parquet(str(tmp_path / "wc2" / "m.parquet"))
    run("wc", "wc_c2", "wc2")
    assert graph("wc") == want              # the fresh vectors ARE merged
    assert_day1_indexed_once("wc")


def test_stream_knn_graph_upsert_rebuilds_lost_graph_from_index(
        spark, sf_dir, tmp_path):
    """r8 review: a graph store that is GENUINELY gone while the index
    survives (external deletion, lost volume) used to take the day-1
    bootstrap branch on the next micro-batch — the graph silently
    restarted from ONE batch and the bootstrap's mode=overwrite NUKED
    the index, losing every stored vector. The index holds every
    ingested vector, so the sink now rebuilds the full graph from it
    (warning emitted, full-rebuild cost, disaster path only): after
    deleting the graph store and streaming a new day, the graph equals
    the full rebuild over base + day1 and the index keeps every base id
    while gaining each day1 id exactly once."""
    import shutil
    import warnings as _warnings

    from servihabitat_etl_spyke_spark.operators import similarity as SIM
    from servihabitat_etl_spyke_spark.streaming.sinks import (
        stream_knn_graph_upsert)

    emb = (load_table(spark, sf_dir, "embeddings")
           .filter(F.col("vec_id") < 200)
           .select("vec_id", "embedding"))
    base = emb.filter(F.col("vec_id") % 3 != 0)
    day1 = emb.filter(F.col("vec_id") % 3 == 0)
    cents = SIM.kmeans_fit(base, k=3, iters=2)
    n_day1 = day1.count()
    n_base = base.count()

    gp, ip, cp = (str(tmp_path / n) for n in ("g", "i", "c"))
    (SIM.ivf_index(base, cents, n_probe=2)
     .write.partitionBy("centroid_id").parquet(ip))
    (SIM.knn_graph_ivf(base, k=5, n_probe=2, centroids=cents,
                       with_score=True).write.parquet(gp))
    shutil.rmtree(gp)                       # the disaster: graph lost

    src = tmp_path / "feed"
    src.mkdir()
    day1.coalesce(1).write.parquet(str(src / "d1.parquet"))
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        q = stream_knn_graph_upsert(
            spark.readStream.schema(day1.schema)
            .parquet(str(src / "d1.parquet")),
            gp, ip, cp, cents, k=5, n_probe=2)
        q.awaitTermination(180)
    assert any("rebuilding the graph from the index" in str(w.message)
               for w in caught)

    got = sorted((r["query_id"], r["neighbor_id"], r["rank"])
                 for r in spark.read.parquet(gp).collect())
    want = sorted(map(tuple, SIM.knn_graph_ivf(
        emb, k=5, n_probe=2, centroids=cents).collect()))
    assert got == want and want
    idx = spark.read.parquet(ip)
    assert idx.count() == n_base + n_day1   # nothing lost, nothing doubled
    assert idx.join(day1.select("vec_id"), "vec_id",
                    "left_semi").count() == n_day1


def test_stream_knn_graph_upsert_killed_day1_index_write(
        spark, sf_dir, tmp_path, kill_next_parquet_write):
    """A driver killed inside the day-1 index write, before job commit,
    leaves only Spark's '_temporary/' at the index path and no graph.
    That is no index: the replay (same checkpoint) clears it and
    bootstraps from the batch, with no disaster-rebuild warning, and
    the graph equals ``knn_graph_ivf`` over the batch, each id indexed
    once."""
    import os
    import warnings as _warnings

    from servihabitat_etl_spyke_spark.operators import similarity as SIM
    from servihabitat_etl_spyke_spark.streaming.sinks import (
        stream_knn_graph_upsert)

    emb = (load_table(spark, sf_dir, "embeddings")
           .filter(F.col("vec_id") < 200)
           .select("vec_id", "embedding"))
    cents = SIM.kmeans_fit(emb, k=3, iters=2)
    gp, ip, cp = (str(tmp_path / n) for n in ("g", "i", "c"))
    src = tmp_path / "feed"
    src.mkdir()
    emb.coalesce(1).write.parquet(str(src / "d1.parquet"))

    def run():
        stream_knn_graph_upsert(
            spark.readStream.schema(emb.schema)
            .parquet(str(src / "d1.parquet")),
            gp, ip, cp, cents, k=5, n_probe=2).awaitTermination(180)

    kill_next_parquet_write("temporary")
    with pytest.raises(Exception, match="simulated driver kill"):
        run()
    assert os.listdir(ip) == ["_temporary"] and not os.path.exists(gp)

    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        run()                               # the replay
    assert not any("rebuilding the graph" in str(w.message)
                   for w in caught)
    got = sorted((r["query_id"], r["neighbor_id"], r["rank"])
                 for r in spark.read.parquet(gp).collect())
    want = sorted(map(tuple, SIM.knn_graph_ivf(
        emb, k=5, n_probe=2, centroids=cents).collect()))
    assert got == want and want
    idx = spark.read.parquet(ip)
    assert idx.count() == idx.select("vec_id").distinct().count() \
        == emb.count()


def test_stream_knn_graph_upsert_heals_interrupted_swap(
        spark, sf_dir, tmp_path):
    """The rename-swap's one vulnerable window, witnessed at the sink:
    the graph dir renamed to '._old' with the complete staged graph at
    '._tmp' never renamed in (a crash between overwrite_via_tmp's two
    renames). The exists-check goes through recover_snapshot, so the
    next micro-batch rolls the swap forward and runs the NORMAL
    incremental path — not the bootstrap, not the disaster rebuild."""
    import os
    import shutil
    import warnings as _warnings

    from servihabitat_etl_spyke_spark.operators import similarity as SIM
    from servihabitat_etl_spyke_spark.streaming.sinks import (
        stream_knn_graph_upsert)

    emb = (load_table(spark, sf_dir, "embeddings")
           .filter(F.col("vec_id") < 200)
           .select("vec_id", "embedding"))
    base = emb.filter(F.col("vec_id") % 3 != 0)
    day1 = emb.filter(F.col("vec_id") % 3 == 0)
    cents = SIM.kmeans_fit(base, k=3, iters=2)

    gp, ip, cp = (str(tmp_path / n) for n in ("g", "i", "c"))
    (SIM.ivf_index(base, cents, n_probe=2)
     .write.partitionBy("centroid_id").parquet(ip))
    (SIM.knn_graph_ivf(base, k=5, n_probe=2, centroids=cents,
                       with_score=True).write.parquet(gp))
    shutil.copytree(gp, gp + "._tmp")       # mid-swap crash state:
    os.rename(gp, gp + "._old")             # between the two renames

    src = tmp_path / "feed"
    src.mkdir()
    day1.coalesce(1).write.parquet(str(src / "d1.parquet"))
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        q = stream_knn_graph_upsert(
            spark.readStream.schema(day1.schema)
            .parquet(str(src / "d1.parquet")),
            gp, ip, cp, cents, k=5, n_probe=2)
        q.awaitTermination(180)
    assert not any("rebuilding the graph" in str(w.message)
                   for w in caught)

    got = sorted((r["query_id"], r["neighbor_id"], r["rank"])
                 for r in spark.read.parquet(gp).collect())
    want = sorted(map(tuple, SIM.knn_graph_ivf(
        emb, k=5, n_probe=2, centroids=cents).collect()))
    assert got == want and want
    assert not os.path.exists(gp + "._old")
    assert not os.path.exists(gp + "._tmp")


def test_stream_knn_graph_upsert_disaster_rebuild_mixed_batch(
        spark, sf_dir, tmp_path):
    """r8 review of the disaster-rebuild branch: after a CHECKPOINT loss
    the replayed batch may MIX previously-ingested ids with genuinely
    new ones (batch boundaries no longer match historical appends), so
    the index append must be per-row, not all-or-nothing — an
    any-id-present probe would skip the whole append and drop the new
    vectors from the index forever. Here the graph AND checkpoint are
    lost; the replayed batch holds half already-indexed ids and half
    new ones: the rebuilt graph equals the full rebuild and the index
    gains exactly the new ids, nothing doubled."""
    import shutil
    import warnings as _warnings

    from servihabitat_etl_spyke_spark.operators import similarity as SIM
    from servihabitat_etl_spyke_spark.streaming.sinks import (
        stream_knn_graph_upsert)

    emb = (load_table(spark, sf_dir, "embeddings")
           .filter(F.col("vec_id") < 200)
           .select("vec_id", "embedding"))
    base = emb.filter(F.col("vec_id") % 3 != 0)       # ingested earlier
    mixed = emb.filter(                                # replayed batch:
        (F.col("vec_id") % 3 == 0)                     # new ids
        | (F.col("vec_id") % 6 == 1))                  # + old ids
    new_only = emb.filter(F.col("vec_id") % 3 == 0)
    cents = SIM.kmeans_fit(base, k=3, iters=2)

    gp, ip, cp = (str(tmp_path / n) for n in ("g", "i", "c"))
    (SIM.ivf_index(base, cents, n_probe=2)
     .write.partitionBy("centroid_id").parquet(ip))
    (SIM.knn_graph_ivf(base, k=5, n_probe=2, centroids=cents,
                       with_score=True).write.parquet(gp))
    shutil.rmtree(gp)                       # graph + checkpoint lost

    src = tmp_path / "feed"
    src.mkdir()
    mixed.coalesce(1).write.parquet(str(src / "d1.parquet"))
    with _warnings.catch_warnings():
        _warnings.simplefilter("ignore")
        q = stream_knn_graph_upsert(
            spark.readStream.schema(mixed.schema)
            .parquet(str(src / "d1.parquet")),
            gp, ip, cp, cents, k=5, n_probe=2)
        q.awaitTermination(180)

    got = sorted((r["query_id"], r["neighbor_id"], r["rank"])
                 for r in spark.read.parquet(gp).collect())
    want = sorted(map(tuple, SIM.knn_graph_ivf(
        emb, k=5, n_probe=2, centroids=cents).collect()))
    assert got == want and want
    idx = spark.read.parquet(ip)
    assert idx.count() == emb.count()       # every id exactly once
    assert idx.join(new_only.select("vec_id"), "vec_id",
                    "left_semi").count() == new_only.count()


def test_stream_knn_graph_upsert_disaster_rebuild_nprobe_guard(
        spark, sf_dir, tmp_path):
    """The disaster-rebuild branch enforces the same index-n_probe
    contract the incremental operator does under validate: rebuilding
    with a different probe width than the index was built with would
    silently change the candidate cells AND append mixed-n_probe rows.
    And the CONVERSE disaster — index lost, graph intact — raises the
    named unrecoverable-state error instead of a raw path error."""
    import shutil
    import warnings as _warnings

    import pytest as _pytest

    from servihabitat_etl_spyke_spark.operators import similarity as SIM
    from servihabitat_etl_spyke_spark.streaming.sinks import (
        stream_knn_graph_upsert)

    emb = (load_table(spark, sf_dir, "embeddings")
           .filter(F.col("vec_id") < 150)
           .select("vec_id", "embedding"))
    base = emb.filter(F.col("vec_id") % 3 != 0)
    day1 = emb.filter(F.col("vec_id") % 3 == 0)
    cents = SIM.kmeans_fit(base, k=3, iters=2)

    src = tmp_path / "feed"
    src.mkdir()
    day1.coalesce(1).write.parquet(str(src / "d1.parquet"))

    def seed(tag, with_graph=True):
        gp, ip = str(tmp_path / f"{tag}_g"), str(tmp_path / f"{tag}_i")
        (SIM.ivf_index(base, cents, n_probe=2)
         .write.partitionBy("centroid_id").parquet(ip))
        if with_graph:
            (SIM.knn_graph_ivf(base, k=5, n_probe=2, centroids=cents,
                               with_score=True)
             .write.parquet(gp))
        return gp, ip

    # n_probe mismatch on the rebuild path: index built at 2, sink at 3
    gp, ip = seed("np")
    shutil.rmtree(gp)
    with _warnings.catch_warnings():
        _warnings.simplefilter("ignore")
        q = stream_knn_graph_upsert(
            spark.readStream.schema(day1.schema)
            .parquet(str(src / "d1.parquet")),
            gp, ip, str(tmp_path / "np_c"), cents, k=5, n_probe=3)
        with _pytest.raises(Exception, match="n_probe=2"):
            q.awaitTermination(180)

    # index lost, graph intact: named unrecoverable-state error
    gp, ip = seed("il")
    shutil.rmtree(ip)
    q = stream_knn_graph_upsert(
        spark.readStream.schema(day1.schema)
        .parquet(str(src / "d1.parquet")),
        gp, ip, str(tmp_path / "il_c"), cents, k=5, n_probe=2)
    with _pytest.raises(Exception,
                        match="cannot be rebuilt from the graph"):
        q.awaitTermination(180)


def test_stream_knn_graph_upsert_replay_of_neighbor_only_batch(
        spark, tmp_path, crash_next_sink_swap):
    """A batch whose vectors land ONLY as NEIGHBORS of old queries
    (their own probed cells otherwise empty) has no query rows; a replay
    that re-merged it against the already-updated graph would hand
    those neighbors duplicate edges (two of the query's k slots).
    Hand-built euclidean geometry pins the premise: new vector v is
    assigned to a cell no old vector occupies, and old anchors probe
    that cell. The sink crashes after the graph swap of v's batch; the
    replay finds the batch id in the graph's record and changes
    nothing."""
    from servihabitat_etl_spyke_spark.operators.etl import read_commit
    from servihabitat_etl_spyke_spark.streaming.sinks import (
        stream_knn_graph_upsert)

    cents = [[10.0, 0.0], [10.0, 6.0], [0.0, 10.0]]
    schema = "vec_id long, embedding array<double>"
    old = spark.createDataFrame([(1, [1.0, 9.0]), (2, [0.5, 9.5])], schema)
    vrow = spark.createDataFrame([(9, [10.0, 5.5])], schema)

    gp, ip, cp = (str(tmp_path / n) for n in ("g", "i", "c"))

    def run():
        # validate=False: the 2-vector corpus has stored max rank 1 < k
        stream_knn_graph_upsert(
            spark.readStream.schema(schema)
            .parquet(str(tmp_path / "feed" / "*.parquet")),
            gp, ip, cp, cents, k=2, n_probe=2,
            validate=False).awaitTermination(120)

    old.coalesce(1).write.parquet(str(tmp_path / "feed" / "b0.parquet"))
    run()                                   # bootstrap from old
    vrow.coalesce(1).write.parquet(str(tmp_path / "feed" / "b1.parquet"))
    crash_next_sink_swap("after")
    with pytest.raises(Exception, match="simulated crash after"):
        run()
    applied = spark.read.parquet(gp)
    # premise guard: v is a neighbor somewhere, a query nowhere
    assert applied.filter(F.col("query_id") == 9).count() == 0
    assert applied.filter(F.col("neighbor_id") == 9).count() > 0
    want = sorted(map(tuple, applied.collect()))

    run()                                   # the replay
    after = spark.read.parquet(gp)
    assert sorted(map(tuple, after.collect())) == want  # untouched
    assert (after.groupBy("query_id", "neighbor_id").count()
            .filter("count > 1").count() == 0)
    idx = spark.read.parquet(ip)
    assert idx.filter(F.col("vec_id") == 9).count() == 1
    assert list(read_commit(gp)["batches"].values()) == [1]


def test_stream_knn_graph_upsert_mixed_batch_fresh_checkpoint(
        spark, sf_dir, tmp_path):
    """r8 review: with graph AND index intact but the CHECKPOINT lost,
    the restarted stream replays the whole feed — batch 0 mixes
    previously-ingested ids with genuinely-new ones. The old any-id
    diagnosis declared the whole batch applied and silently dropped
    the new vectors forever; the per-row diagnosis ingests exactly the
    new rows: the final graph equals the full rebuild and the index
    gains each new id exactly once."""
    from servihabitat_etl_spyke_spark.operators import similarity as SIM
    from servihabitat_etl_spyke_spark.streaming.sinks import (
        stream_knn_graph_upsert)

    emb = (load_table(spark, sf_dir, "embeddings")
           .filter(F.col("vec_id") < 200)
           .select("vec_id", "embedding"))
    base = emb.filter(F.col("vec_id") % 3 != 0)       # fully ingested
    new = emb.filter(F.col("vec_id") % 3 == 0)
    mixed = base.filter(F.col("vec_id") % 6 == 1).unionByName(new)
    cents = SIM.kmeans_fit(base, k=3, iters=2)

    gp, ip, cp = (str(tmp_path / n) for n in ("g", "i", "c"))
    (SIM.ivf_index(base, cents, n_probe=2)
     .write.partitionBy("centroid_id").parquet(ip))
    (SIM.knn_graph_ivf(base, k=5, n_probe=2, centroids=cents,
                       with_score=True).write.parquet(gp))

    src = tmp_path / "feed"
    src.mkdir()
    mixed.coalesce(1).write.parquet(str(src / "d1.parquet"))
    q = stream_knn_graph_upsert(
        spark.readStream.schema(mixed.schema)
        .parquet(str(src / "d1.parquet")),
        gp, ip, cp, cents, k=5, n_probe=2)   # cp is FRESH
    q.awaitTermination(180)

    got = sorted((r["query_id"], r["neighbor_id"], r["rank"])
                 for r in spark.read.parquet(gp).collect())
    want = sorted(map(tuple, SIM.knn_graph_ivf(
        emb, k=5, n_probe=2, centroids=cents).collect()))
    assert got == want and want
    idx = spark.read.parquet(ip)
    assert idx.count() == emb.count()
    assert (idx.groupBy("vec_id").count()
            .filter("count > 1").count() == 0)
