"""End-to-end ETL pipeline tests over synthetic DynamoDB-JSON fixtures
(FIXTURES.md §A; reference semantics from models/ETL.ts + etl.ts)."""

from __future__ import annotations

import json

import pytest

from servihabitat_etl_spyke_spark.operators.etl import (
    ENTITY_ATTRS, decode_dynamodb_json, encode_dynamodb_json, keyed_upsert,
    read_jsonl, run_entity_pipeline, upsert_into_path)


def _write_jsonl(path, items):
    with open(path, "w") as f:
        for it in items:
            f.write(json.dumps(it) + "\n")


@pytest.fixture()
def promotions_file(tmp_path):
    """Duplicates, a triple-dup, overlapping products, a missing-id row."""
    items = [
        {"Item": {"id": {"S": "p1"}, "products": {"SS": ["a", "b"]},
                  "name": {"S": "first"}, "city": {"S": "madrid"}}},
        {"Item": {"products": {"SS": ["orphan"]}, "name": {"S": "no-id"},
                  "city": {"S": "x"}}},                      # dropped
        {"Item": {"id": {"S": "p2"}, "products": {"SS": ["c"]},
                  "name": {"S": "second"}, "city": {"S": "bcn"}}},
        {"Item": {"id": {"S": "p1"}, "products": {"SS": ["b", "d"]},
                  "name": {"S": "dup-ignored"}, "city": {"S": "sevilla"}}},
        {"Item": {"id": {"S": "p1"}, "products": {"SS": ["e"]},
                  "name": {"S": "tripledup"}, "city": {"S": "y"}}},
    ]
    p = tmp_path / "promotions.jsonl"
    _write_jsonl(p, items)
    return str(p)


def test_promotions_dedup_merge(spark, promotions_file):
    out = {r["id"]: r.asDict()
           for r in run_entity_pipeline(spark, "promotions", promotions_file).collect()}
    assert set(out) == {"p1", "p2"}                      # null-id dropped
    # first occurrence wins scalars
    assert out["p1"]["name"] == "first" and out["p1"]["city"] == "madrid"
    # arrays concatenated in row order, overlap NOT deduped
    assert out["p1"]["products"] == ["a", "b", "b", "d", "e"]
    assert out["p2"]["products"] == ["c"]


def test_checklists_empty_string_sanitize(spark, tmp_path):
    items = [
        {"Item": {"id": {"S": "c1"}, "status": {"L": ["s1", "s2"]},
                  "productId": {"S": "pr1"}}},
        {"Item": {"id": {"S": "c2"}, "status": {"L": ""},       # malformed
                  "productId": {"S": "pr2"}}},
        {"Item": {"id": {"S": "c3"}, "productId": {"S": "pr3"}}},  # absent
    ]
    p = tmp_path / "checklists.jsonl"
    _write_jsonl(p, items)
    out = {r["id"]: r.asDict()
           for r in run_entity_pipeline(spark, "checklists", str(p)).collect()}
    assert out["c1"]["status"] == ["s1", "s2"]
    assert out["c2"]["status"] == []
    assert out["c3"]["status"] == []


def test_managements_rename_and_enum(spark, tmp_path):
    rows = [("m1", "CL1", "PR1", "in-progress"), ("m2", "CL2", "PR2", "pending"),
            ("m3", "CL3", "PR3", "E0004"), ("m4", "CL4", "PR4", "E0001"),
            ("m5", "CL5", "PR5", "DONE")]
    items = [{"Item": {"id": {"S": i}, "clientid": {"S": c},
                       "productid": {"S": pr}, "status": {"S": s}}}
             for i, c, pr, s in rows]
    p = tmp_path / "managements.jsonl"
    _write_jsonl(p, items)
    df = run_entity_pipeline(spark, "managements", str(p))
    assert "clientId" in df.columns and "productId" in df.columns
    assert "clientid" not in df.columns
    out = {r["id"]: r["status"] for r in df.collect()}
    assert out == {"m1": "in-progress", "m2": "pending", "m3": "pending",
                   "m4": "in-progress", "m5": "in-progress"}


def test_identity_entities_and_numeric_decode(spark, tmp_path):
    items = [{"Item": {"id": {"S": "pr1"}, "name": {"S": "thing"},
                       "price": {"N": "12.50"}}}]
    p = tmp_path / "products.jsonl"
    _write_jsonl(p, items)
    out = run_entity_pipeline(spark, "products", str(p)).collect()
    assert out[0]["price"] == 12.5                        # N -> double


def test_encode_decode_roundtrip(spark):
    attrs = {"id": "S", "name": "S", "price": "N"}
    df = spark.createDataFrame(
        [("a", "x", 1.5), ("b", "y", 2.0)], ["id", "name", "price"])
    lines = encode_dynamodb_json(df, attrs)
    back = decode_dynamodb_json(lines, attrs)
    assert sorted(map(tuple, back.collect())) == [("a", "x", 1.5), ("b", "y", 2.0)]


def test_keyed_upsert_replaces_and_appends(spark):
    existing = spark.createDataFrame(
        [("1", "old1"), ("2", "old2")], ["id", "v"])
    incoming = spark.createDataFrame(
        [("2", "new2"), ("3", "new3")], ["id", "v"])
    out = {r["id"]: r["v"] for r in keyed_upsert(existing, incoming).collect()}
    assert out == {"1": "old1", "2": "new2", "3": "new3"}

    # NULL keys match nothing: every stored null-id row survives, equal
    # ones included, and the incoming null-id rows collapse to one; the
    # result has the key first and the other stored columns in their
    # order, with or without _ingest_order
    existing = spark.createDataFrame(
        [("old1", "1", 1), ("old2", "2", 2), ("oldnull", None, 3),
         ("oldnull", None, 3), ("oldnull2", None, 4)],
        "v string, id string, n long")
    incoming = spark.createDataFrame(
        [("2", "new2a", 20, 0), ("3", "new3", 30, 1), ("2", "new2b", 21, 2),
         (None, "newnull1", 40, 3), (None, "newnull2", 41, 4)],
        "id string, v string, n long, _ingest_order long")
    for ordered in (True, False):
        inc = incoming if ordered else incoming.drop("_ingest_order")
        out = keyed_upsert(existing, inc)
        assert out.columns == ["id", "v", "n"]
        # a first write: key first when ordered, input order otherwise
        first = keyed_upsert(None, inc.select("v", *[
            c for c in inc.columns if c != "v"]))
        assert first.columns == (["id", "v", "n"] if ordered
                                 else ["v", "id", "n"])
        rows = out.collect()
        by_id = {r["id"]: tuple(r) for r in rows if r["id"] is not None}
        nulls = sorted(tuple(r) for r in rows if r["id"] is None)
        assert len(rows) == len(by_id) + len(nulls) == 7
        assert by_id["1"] == ("1", "old1", 1)
        assert by_id["3"] == ("3", "new3", 30)
        stored = [(None, "oldnull", 3), (None, "oldnull", 3),
                  (None, "oldnull2", 4)]
        if ordered:                       # the LAST write wins
            assert by_id["2"] == ("2", "new2b", 21)
            assert nulls == sorted(stored + [(None, "newnull2", 41)])
        else:                             # one whole incoming row wins
            assert by_id["2"] in {("2", "new2a", 20), ("2", "new2b", 21)}
            assert [t for t in nulls if t not in stored] in (
                [(None, "newnull1", 40)], [(None, "newnull2", 41)])


@pytest.mark.parametrize("case", ["missing", "extra", "widen"])
def test_keyed_upsert_unions_by_name(spark, case):
    """The stored and incoming rows are matched by column name: an
    incoming column the store lacks, or a stored column incoming lacks,
    raises; int and long widen to long."""
    from pyspark.errors import AnalysisException

    existing = spark.createDataFrame(
        [(1, 10, "a"), (2, 20, "b")], "id int, n int, v string")
    if case == "widen":
        incoming = spark.createDataFrame(
            [("c", 3 << 40, 2, 0), ("d", 30, 3, 1)],
            "v string, n long, id long, _ingest_order long")
        out = keyed_upsert(existing, incoming)
        assert [(f.name, f.dataType.simpleString())
                for f in out.schema.fields] == [
            ("id", "bigint"), ("n", "bigint"), ("v", "string")]
        assert sorted(map(tuple, out.collect())) == [
            (1, 10, "a"), (2, 3 << 40, "c"), (3, 30, "d")]
        return
    incoming = (existing.drop("v") if case == "missing"
                else existing.withColumn("w", existing["v"]))
    with pytest.raises(AnalysisException):
        keyed_upsert(existing, incoming).collect()


def test_upsert_into_path_full_cycle(spark, tmp_path):
    path = str(tmp_path / "table")
    v1 = spark.createDataFrame([("1", "a"), ("2", "b")], ["id", "v"])
    upsert_into_path(spark, v1, path)
    v2 = spark.createDataFrame([("2", "B"), ("3", "c")], ["id", "v"])
    assert upsert_into_path(spark, v2, path) is None
    out = {r["id"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert out == {"1": "a", "2": "B", "3": "c"}


def test_upsert_into_path_incremental_batch_runs_two_jobs(spark, tmp_path):
    """An incremental batch of a non-promotions entity is one shuffle-map
    job (scan, decode, union with the stored rows, partial merge) and one
    write job: no schema-inference job for the store and no separate job
    for the incoming key set."""
    sc = spark.sparkContext
    path = str(tmp_path / "store")
    for b in range(2):
        p = tmp_path / f"products{b}.jsonl"
        _write_jsonl(p, [{"Item": {"id": {"S": f"p{i + 3 * b}"},
                                   "name": {"S": f"n{b}"},
                                   "price": {"N": str(i)}}}
                         for i in range(6)])
        group = f"etl-jobs-{tmp_path.name}-{b}"
        sc.setJobGroup(group, group)
        try:
            upsert_into_path(spark, run_entity_pipeline(
                spark, "products", str(p)), path)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 2
    out = {r["id"]: r["name"] for r in spark.read.parquet(path).collect()}
    assert out == {f"p{i}": "n0" if i < 3 else "n1" for i in range(9)}


def test_read_snapshot_schema_from_footer(spark, tmp_path):
    """read_snapshot takes a Spark-written store's schema from its footer,
    and it equals what spark.read.parquet infers; a store written by
    another tool (no Spark footer key) still reads by inference."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from servihabitat_etl_spyke_spark.operators.etl import read_snapshot

    path = str(tmp_path / "spark_store")
    spark.createDataFrame(
        [("a", 1.5, ["x", "y"], datetime.date(2024, 1, 2),
          datetime.datetime(2024, 1, 2, 3, 4, 5), (1, "s")),
         (None, None, None, None, None, None)],
        "s string, d double, arr array<string>, dt date, ts timestamp, "
        "st struct<k:int, t:string>").write.parquet(path)
    got = read_snapshot(spark, path)
    assert got.schema == spark.read.parquet(path).schema
    assert sorted(map(str, got.collect())) == sorted(
        map(str, spark.read.parquet(path).collect()))

    other = tmp_path / "pyarrow_store"
    other.mkdir()
    pq.write_table(pa.table({"id": ["p1", "p2"], "n": [1, 2]}),
                   str(other / "data.parquet"))
    assert b"org.apache.spark.sql.parquet.row.metadata" not in (
        pq.read_metadata(str(other / "data.parquet")).metadata or {})
    got = read_snapshot(spark, str(other))
    assert got.schema == spark.read.parquet(str(other)).schema
    assert sorted(map(tuple, got.collect())) == [("p1", 1), ("p2", 2)]


def test_read_jsonl_malformed_lines_survive(spark, tmp_path):
    p = tmp_path / "bad.jsonl"
    with open(p, "w") as f:
        f.write('{"Item": {"id": {"S": "ok"}, "name": {"S": "n"}}}\n')
        f.write("not json at all\n")
    df = read_jsonl(spark, str(p))
    decoded = decode_dynamodb_json(df, {"id": "S", "name": "S"})
    rows = decoded.collect()
    assert len(rows) == 2                 # malformed row -> nulls, not a crash
    assert {r["id"] for r in rows} == {"ok", None}


def test_keyed_upsert_tie_on_order_keeps_coherent_row(spark):
    """Two rows sharing key AND _ingest_order must resolve to ONE of the
    input rows — per-column max_by could interleave fields from different
    rows into a row that never existed."""
    from servihabitat_etl_spyke_spark.operators.etl import keyed_upsert
    incoming = spark.createDataFrame(
        [(1, "a1", "b1", 7), (1, "a2", "b2", 7)],
        "id long, x string, y string, _ingest_order long")
    rows = keyed_upsert(None, incoming, "id").collect()
    assert len(rows) == 1
    assert (rows[0]["x"], rows[0]["y"]) in {("a1", "b1"), ("a2", "b2")}


class _Row(dict):
    def asDict(self, recursive=False):
        return dict(self)


def test_batch_writer_chunks_in_25s_and_backs_off_exponentially():
    """The S4 transport contract (dynamo-connector.ts:145-185): 25-item
    chunks; throughput errors back off 2^attempt seconds; other errors
    retry immediately; a chunk failing all 5 attempts is skipped, not
    raised."""
    from servihabitat_etl_spyke_spark.operators.etl import make_batch_writer

    sent, sleeps, gave_up = [], [], []

    class Throughput(Exception):
        name = "ProvisionedThroughputExceededException"

    # script: first chunk fails with throughput twice then succeeds;
    # later chunks succeed immediately
    fails = {0: 2}
    attempts: dict[int, int] = {}

    def send(batch):
        key = len(sent)              # index of the chunk being flushed
        n = attempts.get(key, 0)
        attempts[key] = n + 1
        if n < fails.get(key, 0):
            raise Throughput()
        sent.append(list(batch))

    wp = make_batch_writer(send, sleep=sleeps.append,
                           on_give_up=lambda b, e: gave_up.append((b, e)))
    wp(iter([_Row(i=i) for i in range(60)]))
    assert [len(b) for b in sent] == [25, 25, 10]
    assert sleeps == [1, 2]          # 2^0, 2^1 before the two retries
    assert gave_up == []


def test_batch_writer_nonretryable_retries_without_wait_and_gives_up():
    from servihabitat_etl_spyke_spark.operators.etl import make_batch_writer

    sleeps, gave_up, attempts = [], [], {"n": 0}

    def send(batch):
        attempts["n"] += 1
        raise RuntimeError("boom")

    wp = make_batch_writer(send, sleep=sleeps.append,
                           on_give_up=lambda b, e: gave_up.append(type(e)))
    wp(iter([_Row(i=i) for i in range(3)]))   # one under-sized chunk
    assert attempts["n"] == 5                 # all 5 attempts consumed
    assert sleeps == []                       # non-retryable: no backoff
    assert gave_up == [RuntimeError]          # reported, NOT raised


def test_dynamo_batch_write_foreachpartition_end_to_end(spark, tmp_path):
    """Distributed path: every row reaches the transport exactly once in
    <=25-item chunks, with no driver-side collect (the fake client
    appends each chunk as a file from inside the executor)."""
    import glob
    import json
    import os
    import uuid

    from servihabitat_etl_spyke_spark.operators.etl import (
        dynamo_batch_write)

    out_dir = str(tmp_path / "sent")
    os.makedirs(out_dir)

    def send(batch):
        p = os.path.join(out_dir, uuid.uuid4().hex + ".json")
        with open(p, "w") as fh:
            json.dump(batch, fh)

    df = spark.range(0, 103).selectExpr("id", "concat('k', id) AS k") \
        .repartition(4)
    dynamo_batch_write(df, send)
    chunks = [json.load(open(p)) for p in glob.glob(out_dir + "/*.json")]
    assert all(len(c) <= 25 for c in chunks)
    got = sorted(r["id"] for c in chunks for r in c)
    assert got == list(range(103))


def test_keyed_upsert_last_write_wins_all_entities(spark, tmp_path):
    """Every entity (not just promotions) carries _ingest_order, so
    keyed_upsert resolves same-key collisions by LAST write (PutItem
    overwrite order = file line order) instead of an arbitrary
    dropDuplicates winner."""
    items = [
        {"Item": {"id": {"S": "p1"}, "name": {"S": "old"}, "price": {"N": "10"}}},
        {"Item": {"id": {"S": "p1"}, "name": {"S": "new"}, "price": {"N": "20"}}},
        {"Item": {"id": {"S": "p2"}, "name": {"S": "only"}, "price": {"N": "5"}}},
    ]
    p = tmp_path / "products.jsonl"
    _write_jsonl(p, items)
    df = run_entity_pipeline(spark, "products", str(p))
    assert "_ingest_order" in df.columns
    out = {r["id"]: (r["name"], r["price"])
           for r in keyed_upsert(None, df, "id").collect()}
    assert out == {"p1": ("new", 20.0), "p2": ("only", 5.0)}


def test_init_table_heals_torn_seed(spark, tmp_path):
    """A crash mid-seed leaves the directory without _SUCCESS; the next
    init_table call must REWRITE (mode 'ignore' would skip forever and
    report the torn partial table as freshly seeded)."""
    import os

    from servihabitat_etl_spyke_spark.sources.bootstrap import init_table

    path = str(tmp_path / "store")
    os.makedirs(path)                       # torn: dir exists, no marker
    with open(os.path.join(path, "junk"), "w") as fh:
        fh.write("partial")
    df, seeded = init_table(spark, path, [(1, "a"), (2, "b")],
                            "id long, v string")
    assert seeded is True
    assert sorted((r.id, r.v) for r in df.collect()) == [(1, "a"), (2, "b")]
    # second call: marker present now -> untouched no-op
    df2, seeded2 = init_table(spark, path, [(9, "z")], "id long, v string")
    assert seeded2 is False and df2.count() == 2


def test_cascade_delete_enforces_declared_option(spark):
    """J4 (r6): deleting parents removes FK-matching children; NULL-FK
    children survive (a NULL key matches nothing in an anti-join);
    literal id lists work; multi-hop composes by re-application."""
    from servihabitat_etl_spyke_spark.operators.etl import cascade_delete
    parents = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, v string")
    children = spark.createDataFrame(
        [(10, 1), (11, 2), (12, 2), (13, None), (14, 3)],
        "cid long, parent_id long")
    p2, c2 = cascade_delete(parents, children, "parent_id", [2])
    assert sorted(r.id for r in p2.collect()) == [1, 3]
    assert sorted(r.cid for r in c2.collect()) == [10, 13, 14]

    # second hop: the deleted children's ids cascade to grandchildren
    grand = spark.createDataFrame(
        [(100, 10), (101, 11), (102, 12), (103, 14)],
        "gid long, child_id long")
    deleted_children = (children.join(
        spark.createDataFrame([(2,)], "parent_id long"),
        "parent_id", "left_semi").select("cid"))
    _, g2 = cascade_delete(children, grand, "child_id", deleted_children,
                           parent_id_col="cid")
    assert sorted(r.gid for r in g2.collect()) == [100, 103]


def test_entity_pipeline_drops_itemless_lines(spark, tmp_path):
    """Round-6 review fix: a malformed / Item-less line decodes to an
    all-null row that the PIPELINE must drop for every entity (the
    reference's JSON.parse(line)?.Item falsy -> skip) — an undropped
    null-id row would accumulate one garbage copy per keyed upsert
    (NULL keys never match in the anti-join)."""
    from servihabitat_etl_spyke_spark.operators.etl import (
        keyed_upsert, run_entity_pipeline)
    p = tmp_path / "products.jsonl"
    with open(p, "w") as f:
        f.write('{"Item": {"id": {"S": "p1"}, "name": {"S": "n"}, '
                '"price": {"N": "3"}}}\n')
        f.write("not json at all\n")
        f.write('{"notItem": 1}\n')
    out = run_entity_pipeline(spark, "products", str(p))
    assert [r.id for r in out.collect()] == ["p1"]
    # two consecutive upserts stay at one row (no null-id accumulation)
    snap = keyed_upsert(None, out)
    snap = keyed_upsert(snap, run_entity_pipeline(spark, "products", str(p)))
    assert snap.count() == 1


def _rows(spark, path):
    return sorted(map(tuple, spark.read.parquet(path).collect()))


def test_overwrite_via_tmp_rename_swap_and_recovery(spark, tmp_path):
    """The snapshot overwrite is a single staged write plus a directory
    rename swap. Witnessed here:

    - a merge whose plan READS the target lands the right content and
      leaks neither '._tmp' nor '._old';
    - a crash between the two renames ('._old' holding the previous
      snapshot, '._tmp' the complete successor) rolls forward through
      recover_snapshot;
    - a completed swap whose '._old' cleanup died heals by dropping the
      stale '._old', keeping the NEW data;
    - a genuinely absent store reports absent (no false recovery);
    - a fresh path bootstraps through the same call (rename-into-place
      needs no pre-existing target).
    """
    import os
    import shutil

    from servihabitat_etl_spyke_spark.operators.etl import (
        overwrite_via_tmp, recover_snapshot)

    path = str(tmp_path / "snap")
    spark.createDataFrame([("1", "a")], ["id", "v"]).write.parquet(path)
    merged = spark.read.parquet(path).unionByName(
        spark.createDataFrame([("2", "b")], ["id", "v"]))
    overwrite_via_tmp(merged, path)
    assert _rows(spark, path) == [("1", "a"), ("2", "b")]
    assert not os.path.exists(path + "._tmp")
    assert not os.path.exists(path + "._old")

    # interrupted swap: path -> ._old happened, the complete ._tmp was
    # not renamed in
    spark.createDataFrame(
        [("1", "a"), ("2", "b"), ("3", "c")], ["id", "v"]).write.parquet(
        path + "._tmp")
    os.rename(path, path + "._old")
    assert recover_snapshot(path)
    assert _rows(spark, path) == [("1", "a"), ("2", "b"), ("3", "c")]
    assert not os.path.exists(path + "._old")
    assert not os.path.exists(path + "._tmp")

    # completed swap, stale ._old left behind: the NEW data must win
    shutil.copytree(path, path + "._old")
    overwrite_via_tmp(
        spark.read.parquet(path).filter("id = '2'"), path)
    assert _rows(spark, path) == [("2", "b")]
    assert not os.path.exists(path + "._old")

    # genuinely absent store: no false recovery
    assert not recover_snapshot(str(tmp_path / "nope"))

    # fresh-path bootstrap through the same call
    fresh = str(tmp_path / "fresh")
    overwrite_via_tmp(
        spark.createDataFrame([("9", "z")], ["id", "v"]), fresh)
    assert _rows(spark, fresh) == [("9", "z")]
    assert not os.path.exists(fresh + "._tmp")


def test_recover_snapshot_does_not_resurrect_stale_old(spark, tmp_path):
    """Double fault: a swap whose '._old' cleanup crashed leaves a STALE
    previous snapshot next to the committed one; if the committed path
    is then lost externally, recover must NOT revive the stale '._old'
    as committed state (an N-1 snapshot revived that way silently
    diverges — the batch marker says N applied). An '._old' is only
    ever rolled past, never restored: without a complete '._tmp' beside
    it, the store reads as absent."""
    import os

    from servihabitat_etl_spyke_spark.operators.etl import (
        overwrite_via_tmp, recover_snapshot)

    path = str(tmp_path / "snap")
    spark.createDataFrame([("1", "a")], ["id", "v"]).write.parquet(path)
    overwrite_via_tmp(
        spark.createDataFrame([("2", "b")], ["id", "v"]), path)

    # post-swap stale ._old (cleanup crashed), then the committed path
    # is lost externally
    spark.createDataFrame([("1", "a")], ["id", "v"]).write.parquet(
        path + "._old")
    os.rename(path, str(tmp_path / "gone"))
    assert not recover_snapshot(path)       # absent, NOT resurrected
    assert not os.path.exists(path + "._old")

    # even the latest snapshot at ._old with no ._tmp is not restored:
    # the swap never leaves that state, so only an external loss can
    os.rename(str(tmp_path / "gone"), path + "._old")
    assert not recover_snapshot(path)
    assert not os.path.exists(path + "._old")

    # contrast: ._old beside a complete ._tmp is the between-renames
    # crash, and rolls FORWARD to the staged successor
    spark.createDataFrame([("1", "a")], ["id", "v"]).write.parquet(
        path + "._old")
    spark.createDataFrame([("2", "b")], ["id", "v"]).write.parquet(
        path + "._tmp")
    assert recover_snapshot(path)
    assert _rows(spark, path) == [("2", "b")]


def test_overwrite_via_tmp_stamps_before_swap_and_rolls_forward(
        spark, tmp_path, monkeypatch):
    """Witnessed by crashing the swap between the two renames (the
    narrowest window): '._old' holds N-1, '._tmp' the complete
    successor, and recover must roll the swap FORWARD to the staged
    successor — never revive N-1."""
    import os

    from servihabitat_etl_spyke_spark.operators import etl as etl_mod
    from servihabitat_etl_spyke_spark.operators.etl import (
        overwrite_via_tmp, recover_snapshot)

    path = str(tmp_path / "snap")
    spark.createDataFrame([("1", "a")], ["id", "v"]).write.parquet(path)

    real_rename = os.rename

    def crash_on_second_rename(src, dst):
        if src.endswith("._tmp"):
            raise OSError("simulated crash between the two renames")
        return real_rename(src, dst)

    monkeypatch.setattr(etl_mod.os, "rename", crash_on_second_rename)
    with pytest.raises(OSError, match="simulated crash"):
        overwrite_via_tmp(
            spark.createDataFrame([("2", "b")], ["id", "v"]), path)
    monkeypatch.setattr(etl_mod.os, "rename", real_rename)

    # the crash state: path absent, ._old and a complete ._tmp present
    assert not os.path.exists(path)
    assert os.path.exists(path + "._old")
    assert os.path.exists(path + "._tmp")

    # recover rolls FORWARD: the staged successor commits, N-1 is
    # dropped, nothing resurrects
    assert recover_snapshot(path)
    assert _rows(spark, path) == [("2", "b")]
    assert not os.path.exists(path + "._old")
    assert not os.path.exists(path + "._tmp")


@pytest.mark.parametrize("crash,survivor", [
    ("staging_write", "old"),
    ("first_rename", "old"),
    ("second_rename", "new"),
    ("old_removal", "new"),
    ("old_removal_then_path_lost", None),
])
def test_overwrite_via_tmp_crash_windows(spark, tmp_path, monkeypatch,
                                         kill_next_parquet_write, crash,
                                         survivor):
    """Crash overwrite_via_tmp at each step of the swap, then heal with
    recover_snapshot: a crash during the staging write or before the
    first rename keeps exactly the old rows and the old commit record,
    a crash between the renames or during the removal of '._old' gives
    exactly the new rows and the new record. A partially deleted
    '._old' is never restored: if the committed path is then lost too,
    the store reads as absent."""
    import json
    import os
    import shutil

    from servihabitat_etl_spyke_spark.operators.etl import (
        overwrite_via_tmp, read_commit, recover_snapshot)

    path = str(tmp_path / "snap")
    old_rows = [("1", "a"), ("2", "b")]
    new_rows = [("1", "a"), ("3", "c")]
    (spark.createDataFrame(old_rows, ["id", "v"]).repartition(2)
     .write.parquet(path))
    with open(os.path.join(path, "_commit.json"), "w") as fh:
        json.dump({"gen": "old"}, fh)
    new = (spark.read.parquet(path).filter("id = '1'")
           .unionByName(spark.createDataFrame([("3", "c")], ["id", "v"])))

    real_rename, real_rmtree = os.rename, shutil.rmtree

    def rename(src, dst):
        if (crash == "first_rename" and src == path) or (
                crash == "second_rename" and src == path + "._tmp"):
            raise OSError("simulated crash at rename")
        return real_rename(src, dst)

    def rmtree(p, *args, **kwargs):
        if str(p) == path + "._old" and os.path.isdir(p):
            parts = sorted(f for f in os.listdir(p)
                           if f.startswith("part-"))
            os.remove(os.path.join(p, parts[0]))
            raise OSError("simulated crash while removing ._old")
        return real_rmtree(p, *args, **kwargs)

    if crash == "staging_write":
        kill_next_parquet_write("partial")
    monkeypatch.setattr(os, "rename", rename)
    if crash.startswith("old_removal"):
        monkeypatch.setattr(shutil, "rmtree", rmtree)
    with pytest.raises((OSError, RuntimeError), match="simulated"):
        overwrite_via_tmp(new, path, commit={"gen": "new"})
    monkeypatch.undo()
    if crash == "old_removal_then_path_lost":
        assert os.path.isdir(path + "._old")    # the partial N-1
        shutil.rmtree(path)

    assert recover_snapshot(path) == (survivor is not None)
    if survivor is not None:
        want = old_rows if survivor == "old" else new_rows
        assert _rows(spark, path) == want
        assert read_commit(path) == {"gen": survivor}
    else:
        assert not os.path.exists(path)
        assert read_commit(path) == {}
    assert not os.path.exists(path + "._old")
    assert not os.path.exists(path + "._tmp")


@pytest.mark.parametrize("how", ["temporary", "partial"])
def test_upsert_into_path_killed_first_write_leaves_store_absent(
        spark, tmp_path, kill_next_parquet_write, how):
    """A driver killed during the FIRST write of a store (its bootstrap)
    leaves only Spark's '_temporary/', or some part files and no
    '_SUCCESS'. The first write is staged like every other, so the
    store reads as absent afterwards — never as a committed empty or
    half-written snapshot — and the retried batch sequence lands
    exactly the keyed fold of the batches."""
    import os

    from servihabitat_etl_spyke_spark.operators.etl import recover_snapshot

    path = str(tmp_path / "store")
    batches = [[("p1", "a"), ("p2", "b"), ("p3", "c"), ("p4", "d")],
               [("p2", "B"), ("p5", "e")]]

    kill_next_parquet_write(how)
    with pytest.raises(RuntimeError, match="simulated driver kill"):
        upsert_into_path(
            spark, spark.createDataFrame(batches[0], ["id", "v"]), path)
    assert not recover_snapshot(path)
    assert not os.path.exists(path)

    for batch in batches:                   # the retry, then the next
        upsert_into_path(
            spark, spark.createDataFrame(batch, ["id", "v"]), path)
    want = {}
    for batch in batches:
        want.update(batch)
    assert _rows(spark, path) == sorted(want.items())
    # the ETL path passes no commit record and writes no extra file
    assert not os.path.exists(os.path.join(path, "_commit.json"))


def test_recover_snapshot_drops_orphaned_tmp(spark, tmp_path):
    """A crash DURING the staging write leaves a '._tmp' holding a full
    snapshot's worth of uncommitted data; recover drops the orphan and
    leaves the committed state untouched."""
    import os

    from servihabitat_etl_spyke_spark.operators.etl import recover_snapshot

    path = str(tmp_path / "snap")
    spark.createDataFrame([("1", "a")], ["id", "v"]).write.parquet(path)
    spark.createDataFrame([("9", "x")], ["id", "v"]).write.parquet(
        path + "._tmp")

    assert recover_snapshot(path)
    assert not os.path.exists(path + "._tmp")     # orphan dropped
    assert _rows(spark, path) == [("1", "a")]

    # an abandoned store (no committed path at all) also sheds its
    # orphan staging dir instead of holding it until a write that
    # never comes
    ghost = str(tmp_path / "ghost")
    spark.createDataFrame([("9", "x")], ["id", "v"]).write.parquet(
        ghost + "._tmp")
    assert not recover_snapshot(ghost)
    assert not os.path.exists(ghost + "._tmp")
