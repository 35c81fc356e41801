"""Source-layer tests: sheet header-zip + keyed upsert, virtual tables,
idempotent bootstrap."""

from __future__ import annotations

import pytest

from servihabitat_etl_spyke_spark.sources import (
    catalog_table, files_table, init_table, registry_table,
    sheet_from_rows, sheet_upsert,
)
from servihabitat_etl_spyke_spark.sources.sheets import (
    read_sheet, sheet_append_if_missing,
)


def test_sheet_zip_semantics(spark):
    df = sheet_from_rows(spark, [
        [" id ", "name"], ["1", "a"], ["2"], ["3", "c", "drop-me"]])
    assert df.columns == ["id", "name"]
    rows = {r.id: r.name for r in df.collect()}
    assert rows == {"1": "a", "2": "", "3": "c"}


def test_sheet_needs_header(spark):
    with pytest.raises(ValueError):
        sheet_from_rows(spark, [])


def test_sheet_csv_roundtrip(spark, tmp_path):
    p = tmp_path / "sheet.csv"
    p.write_text("id,qty\n1,10\n2,20\n")
    df = read_sheet(spark, str(p))
    # sheets are untyped: everything is a string
    assert dict(df.dtypes) == {"id": "string", "qty": "string"}
    assert df.count() == 2


def test_sheet_upsert_and_insert_only(spark):
    sheet = sheet_from_rows(spark, [["id", "v"], ["1", "a"], ["2", "b"]])
    batch = spark.createDataFrame(
        [("2", "B"), ("3", "c")], "id string, v string")
    up = {r.id: r.v for r in sheet_upsert(sheet, batch, "id").collect()}
    assert up == {"1": "a", "2": "B", "3": "c"}
    ins = {r.id: r.v
           for r in sheet_append_if_missing(sheet, batch, "id").collect()}
    assert ins == {"1": "a", "2": "b", "3": "c"}


def test_files_table(spark, tmp_path):
    (tmp_path / "a.py").write_text("x = 1\n")
    (tmp_path / "sub").mkdir()
    (tmp_path / "sub" / "b.py").write_text("y = 22\n")
    (tmp_path / "skip.txt").write_text("no")
    df = files_table(spark, str(tmp_path), suffixes=(".py",))
    rows = {r.relpath: r.n_bytes for r in df.collect()}
    assert rows == {"a.py": 6, "sub/b.py": 7}


def test_catalog_table(spark, sf_dir):
    df = catalog_table(spark, sf_dir, ("region", "nation", "nope"))
    rows = {r.table_name: r.n_columns for r in df.collect()}
    assert rows == {"region": 2, "nation": 3}


def test_get_spark_sets_nanos_as_long(spark, tmp_path):
    """``get_spark`` sets ``nanosAsLong`` for the whole session, so a plain
    parquet read of a TIMESTAMP(NANOS) file works before any
    ``load_table`` call: unset it, ask for the session again, and the
    read sees the nanos column as long."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from servihabitat_etl_spyke_spark.session import get_spark
    path = str(tmp_path / "nanos.parquet")
    pq.write_table(pa.table({"ts": pa.array([1_700_000_000_123_456_789],
                                            pa.timestamp("ns"))}),
                   path, version="2.6")
    key = "spark.sql.legacy.parquet.nanosAsLong"
    cpus = int(spark.conf.get("spark.sql.shuffle.partitions"))
    spark.conf.unset(key)
    try:
        assert get_spark("tests", cpus=cpus).conf.get(key) == "true"
        df = spark.read.parquet(path)
        assert isinstance(df.schema["ts"].dataType, T.LongType)
        assert df.first()["ts"] == 1_700_000_000_123_456_789
    finally:
        spark.conf.set(key, "true")


def test_registry_table(spark):
    df = registry_table(spark, {"m1": "idle", "m2": "running"})
    assert df.filter("state = 'running'").count() == 1


def test_init_table_idempotent(spark, tmp_path):
    path = str(tmp_path / "seeded")
    df1, seeded1 = init_table(spark, path, [(1, "a")], "id int, v string")
    df2, seeded2 = init_table(spark, path, [(9, "z"), (8, "y")],
                              "id int, v string")
    assert seeded1 is True and seeded2 is False
    assert df2.count() == 1 and df2.first().v == "a"


# -- snapshot store (time travel / incremental reads) -------------------------


def _snap_store(tmp_path):
    from servihabitat_etl_spyke_spark.sources.snapshots import SnapshotStore
    return SnapshotStore(str(tmp_path / "snap"))


def test_snapshot_append_and_time_travel(spark, tmp_path):
    st = _snap_store(tmp_path)
    s1 = st.commit(spark.range(0, 10).withColumnRenamed("id", "k"))
    s2 = st.commit(spark.range(10, 25).withColumnRenamed("id", "k"))
    assert (s1, s2) == (1, 2)
    assert st.read(spark, snapshot=1).count() == 10
    assert st.read(spark, snapshot=2).count() == 25
    assert st.read(spark).count() == 25          # default = latest


def test_snapshot_overwrite_preserves_history(spark, tmp_path):
    st = _snap_store(tmp_path)
    st.commit(spark.range(0, 10).withColumnRenamed("id", "k"))
    st.commit(spark.range(100, 103).withColumnRenamed("id", "k"),
              mode="overwrite")
    # the overwrite snapshot sees ONLY its own data
    assert sorted(r["k"] for r in st.read(spark).collect()) == [100, 101, 102]
    # ...and snapshot 1 still reads byte-identically (files never deleted)
    assert st.read(spark, snapshot=1).count() == 10


def test_snapshot_incremental_consumption(spark, tmp_path):
    st = _snap_store(tmp_path)
    st.commit(spark.range(0, 10).withColumnRenamed("id", "k"))
    st.commit(spark.range(10, 30).withColumnRenamed("id", "k"))
    st.commit(spark.range(30, 35).withColumnRenamed("id", "k"))
    inc = st.read_incremental(spark, since=1)
    assert sorted(r["k"] for r in inc.collect()) == list(range(10, 35))
    # caught-up consumer: empty frame, schema intact
    done = st.read_incremental(spark, since=3)
    assert done.count() == 0 and done.columns == ["k"]


def test_snapshot_errors(spark, tmp_path):
    import pytest as _pt
    st = _snap_store(tmp_path)
    with _pt.raises(ValueError):
        st.read(spark)                            # empty store
    st.commit(spark.range(3).withColumnRenamed("id", "k"))
    with _pt.raises(ValueError):
        st.read(spark, snapshot=99)               # unknown snapshot
    with _pt.raises(ValueError):
        st.commit(spark.range(3), mode="merge")   # unknown mode


def test_snapshot_incremental_scans_only_new_commit(spark, sf_dir):
    """The snapshot-incremental dedup consumer must plan its 'new batch'
    scan over ONLY the post-checkpoint commit's files — the whole point
    of checkpointing a snapshot id instead of re-scanning the corpus."""
    import tempfile

    from pyspark.sql import functions as F
    from servihabitat_etl_spyke_spark.catalog import load_table
    from servihabitat_etl_spyke_spark.sources.snapshots import SnapshotStore

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    crawl = docs.filter(F.col("doc_id") % 5 == 0)
    store = SnapshotStore(tempfile.mkdtemp(prefix="snapinc_"))
    sid = store.commit(corpus)
    store.commit(crawl)

    new = store.read_incremental(spark, since=sid)
    files = new.inputFiles()
    assert files and all("commit-000002" in f for f in files), files
    assert new.count() == crawl.count()
    # and the checkpointed snapshot still reads exactly the old corpus
    assert store.read(spark, snapshot=sid).count() == corpus.count()


def test_snapshot_compaction_row_identical_history_intact(spark, sf_dir):
    """compact() folds a long append history into one directory: the new
    snapshot reads row-identically, every OLD snapshot still reads its
    own files, incremental consumers checkpointed BEFORE compaction get
    a loud re-baseline error (r6: the dir diff would re-deliver the
    whole corpus as 'new' — silent double-ingest), and consumers
    checkpointed at/after it continue cleanly."""
    import tempfile

    from pyspark.sql import functions as F
    from servihabitat_etl_spyke_spark.catalog import load_table
    from servihabitat_etl_spyke_spark.sources.snapshots import SnapshotStore

    ev = load_table(spark, sf_dir, "events").select("event_id", "value")
    store = SnapshotStore(tempfile.mkdtemp(prefix="snapcomp_"))
    for bucket in range(4):                       # 4 tiny append commits
        store.commit(ev.filter(F.col("event_id") % 4 == bucket))
    assert len(store.snapshots()[-1]["dirs"]) == 4

    before = store.read(spark)
    n_before, sum_before = before.count(), \
        before.agg(F.sum("value")).first()[0]
    cid = store.compact(spark)

    latest = store.snapshots()[-1]
    assert latest["id"] == cid and len(latest["dirs"]) == 1
    after = store.read(spark)
    assert after.count() == n_before
    assert abs(after.agg(F.sum("value")).first()[0] - sum_before) < 1e-6
    # history intact: snapshot 2 still reads exactly commits 1-2
    snap2 = store.read(spark, snapshot=2)
    want2 = ev.filter(F.col("event_id") % 4 < 2)
    assert snap2.count() == want2.count()
    # an incremental consumer checkpointed BEFORE compaction must not
    # silently re-ingest the whole corpus — it gets the re-baseline error
    with pytest.raises(ValueError, match="Re-baseline"):
        store.read_incremental(spark, since=4)
    # re-baselined at the compaction snapshot: new appends flow normally
    store.commit(ev.filter(F.col("event_id") % 4 == 0).limit(5))
    inc = store.read_incremental(spark, since=cid)
    assert inc.count() == 5


def test_snapshot_compaction_recovery_roundtrip(spark, sf_dir):
    """r6 verdict polish item 8: the recovery path the re-baseline
    error PRESCRIBES — full read at the compaction snapshot, then
    incremental from it — must round-trip: a consumer that follows it
    ends with exactly the live table, no row lost, none re-delivered.

    Simulates the consumer state machine end-to-end: incremental
    consumption -> compaction happens -> the next incremental read
    raises -> consumer re-baselines as documented -> consumption
    continues across further appends AND a second compaction."""
    import tempfile

    from pyspark.sql import functions as F
    from servihabitat_etl_spyke_spark.catalog import load_table
    from servihabitat_etl_spyke_spark.sources.snapshots import SnapshotStore

    ev = load_table(spark, sf_dir, "events").select("event_id", "value")
    store = SnapshotStore(tempfile.mkdtemp(prefix="snaprt_"))

    def multiset(df):
        out = {}
        for r in df.collect():
            k = (r["event_id"], round(r["value"], 6))
            out[k] = out.get(k, 0) + 1
        return out

    def add_all(acc, df):
        for k, c in multiset(df).items():
            acc[k] = acc.get(k, 0) + c

    consumed: dict = {}
    s1 = store.commit(ev.filter(F.col("event_id") % 4 == 0))
    add_all(consumed, store.read(spark))          # initial full sync
    checkpoint = s1

    store.commit(ev.filter(F.col("event_id") % 4 == 1))
    inc = store.read_incremental(spark, since=checkpoint)
    add_all(consumed, inc)
    checkpoint = store.latest_id()

    cid = store.compact(spark)                    # maintenance op lands
    store.commit(ev.filter(F.col("event_id") % 4 == 2))

    try:
        store.read_incremental(spark, since=checkpoint)
        raise AssertionError("expected the re-baseline error")
    except ValueError:
        # the DOCUMENTED recovery: drop local state, full read at the
        # compaction snapshot, continue incrementally from it
        consumed = {}
        add_all(consumed, store.read(spark, snapshot=cid))
        add_all(consumed, store.read_incremental(spark, since=cid))
        checkpoint = store.latest_id()

    # consumption keeps working across a SECOND compaction the same way
    store.commit(ev.filter(F.col("event_id") % 4 == 3))
    add_all(consumed, store.read_incremental(spark, since=checkpoint))
    checkpoint = store.latest_id()
    cid2 = store.compact(spark)
    consumed2: dict = {}
    add_all(consumed2, store.read(spark, snapshot=cid2))

    live = multiset(store.read(spark))
    assert consumed == live, "recovery path lost or re-delivered rows"
    assert consumed2 == live
    assert live, "fixture must be non-empty"


def test_snapshot_diff_compaction_transparent(spark, sf_dir):
    """snapshot_diff is full-read based, so a compaction (row-identical
    by contract) must diff EMPTY across its boundary, and a diff
    spanning compaction + real changes must report exactly the real
    changes — the compacted flag never bleeds into the diff path."""
    import tempfile

    from pyspark.sql import functions as F
    from servihabitat_etl_spyke_spark.catalog import load_table
    from servihabitat_etl_spyke_spark.sources.snapshots import (
        SnapshotStore, snapshot_diff)

    ev = load_table(spark, sf_dir, "events").select("event_id", "value")
    store = SnapshotStore(tempfile.mkdtemp(prefix="snapdiffc_"))
    store.commit(ev.filter(F.col("event_id") % 3 == 0))
    pre = store.commit(ev.filter(F.col("event_id") % 3 == 1))
    cid = store.compact(spark)

    # compaction alone: zero added/removed/changed
    assert snapshot_diff(spark, store, "event_id", pre, cid).count() == 0

    # compaction + a real append: exactly the appended keys, as 'added'
    new_rows = ev.filter(F.col("event_id") % 3 == 2)
    store.commit(new_rows)
    got = {(r["event_id"], r["change"]) for r in
           snapshot_diff(spark, store, "event_id", pre).collect()}
    want = {(r["event_id"], "added") for r in new_rows.collect()}
    assert got == want and want


def test_snapshot_additive_schema_evolution(spark, sf_dir):
    """A later commit may add a column; merge_schema reads union the
    schemas with NULLs for pre-evolution files, while per-snapshot
    time travel keeps each snapshot's own schema."""
    import tempfile

    from servihabitat_etl_spyke_spark.sources.snapshots import SnapshotStore

    store = SnapshotStore(tempfile.mkdtemp(prefix="snapevo_"))
    store.commit(spark.createDataFrame([(1, "a")], "id long, v string"))
    store.commit(spark.createDataFrame([(2, "b", 9.5)],
                                       "id long, v string, score double"))
    merged = store.read(spark, merge_schema=True)
    assert set(merged.columns) == {"id", "v", "score"}
    rows = {r["id"]: r["score"] for r in merged.collect()}
    assert rows == {1: None, 2: 9.5}
    # time travel to snapshot 1 sees the original schema only
    assert store.read(spark, snapshot=1).columns == ["id", "v"]


def test_snapshot_diff_classifies_adds_removes_changes(spark, tmp_path):
    from servihabitat_etl_spyke_spark.sources.snapshots import (
        SnapshotStore, snapshot_diff)
    store = SnapshotStore(str(tmp_path / "sd"))
    v1 = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)],
        "k long, s string, v long")
    v2 = spark.createDataFrame(
        [(2, "b", 20), (3, "c", 99), (4, "d", 40)],
        "k long, s string, v long")
    s1 = store.commit(v1)
    s2 = store.commit(v2, mode="overwrite")
    got = {r["k"]: r["change"] for r in
           snapshot_diff(spark, store, "k", s1, s2).collect()}
    assert got == {1: "removed", 3: "changed", 4: "added"}
    # compare_cols narrows change detection: v-only edits invisible
    # when only s is compared
    got2 = {r["k"]: r["change"] for r in
            snapshot_diff(spark, store, "k", s1, s2,
                          compare_cols=["s"]).collect()}
    assert got2 == {1: "removed", 4: "added"}


class _FakeSheetService:
    """In-memory spreadsheets.values twin: a list-of-lists sheet plus the
    four calls SheetTransport drives (get/update/append/delete_rows)."""

    def __init__(self, rows=None):
        self.rows = [list(r) for r in (rows or [])]

    def get(self, range_):
        if range_.endswith("!A1:Z1"):
            return [self.rows[0]] if self.rows else []
        return [list(r) for r in self.rows]

    def update(self, cell, values):
        col = ord(cell[0]) - 65
        row = int(cell[1:]) - 1
        vals = values[0]
        cur = self.rows[row]
        cur.extend([""] * (col + len(vals) - len(cur)))
        cur[col:col + len(vals)] = vals

    def append(self, range_, values):
        self.rows.extend(list(v) for v in values)

    def delete_rows(self, start, end):
        del self.rows[start:end]


def test_sheet_transport_put_update_append_and_delete():
    """The reference call sequence (googleSheetClient.ts:198-238): first
    put on an empty sheet bootstraps the header; a known key updates its
    row in place; delete removes the row with no blank left."""
    from servihabitat_etl_spyke_spark.sources.sheets import SheetTransport
    svc = _FakeSheetService()
    tr = SheetTransport(svc, "s1", "id", ["id", "name", "city"])
    tr.put({"id": "1", "name": "ana", "city": "bcn"})
    assert svc.rows == [["id", "name", "city"], ["1", "ana", "bcn"]]
    tr.put({"id": "2", "name": "bob", "city": "mad"})
    tr.put({"id": "1", "name": "ana2", "city": "gir"})   # in-place update
    assert svc.rows == [["id", "name", "city"],
                        ["1", "ana2", "gir"], ["2", "bob", "mad"]]
    assert tr.get("2") == {"id": "2", "name": "bob", "city": "mad"}
    tr.delete_id("1")
    assert svc.rows == [["id", "name", "city"], ["2", "bob", "mad"]]
    assert tr.find_element("1") is None


def test_sheet_transport_nonfirst_id_column_reproduces_reference_shift():
    """When the id field is NOT column A the reference writes the whole
    row starting at the id cell — reproduced verbatim (documented
    quirk), so a faithful adapter sees identical sheets."""
    from servihabitat_etl_spyke_spark.sources.sheets import SheetTransport
    svc = _FakeSheetService([["name", "id"], ["ana", "7"]])
    tr = SheetTransport(svc, "s1", "id", ["name", "id"])
    tr.put({"name": "ana2", "id": "7"})
    # update lands at B2: row becomes [ana, ana2, 7] (the shift)
    assert svc.rows[1] == ["ana", "ana2", "7"]


def test_sheet_transport_none_field_writes_empty_cell():
    """A present-but-None field must land as an empty cell (the JS
    client serializes null to empty), never the string 'None'."""
    from servihabitat_etl_spyke_spark.sources.sheets import SheetTransport
    svc = _FakeSheetService()
    tr = SheetTransport(svc, "s1", "id", ["id", "name"])
    tr.put({"id": "1", "name": None})
    assert svc.rows == [["id", "name"], ["1", ""]]


def test_snapshot_commit_heals_orphan_dir(spark, tmp_path):
    """A crash between a commit's parquet write and its manifest store
    leaves an orphan commit dir; the retry must overwrite it instead of
    failing forever on mode('error')."""
    import os

    from servihabitat_etl_spyke_spark.sources.snapshots import SnapshotStore
    store = SnapshotStore(str(tmp_path / "snap"))
    store.commit(spark.createDataFrame([(1, "a")], "id long, v string"))
    # simulate the torn second commit: data dir exists, manifest doesn't know
    orphan = os.path.join(store.path, "commit-000002")
    spark.createDataFrame([(9, "junk")], "id long, v string") \
        .write.parquet(orphan)
    sid = store.commit(
        spark.createDataFrame([(2, "b")], "id long, v string"))
    assert sid == 2
    got = sorted((r.id, r.v) for r in store.read(spark).collect())
    assert got == [(1, "a"), (2, "b")]


def test_snapshot_compact_keeps_evolved_columns(spark, tmp_path):
    """compact() must read with mergeSchema so columns added by later
    append commits survive the rewrite."""
    from servihabitat_etl_spyke_spark.sources.snapshots import SnapshotStore
    store = SnapshotStore(str(tmp_path / "snap2"))
    store.commit(spark.createDataFrame([(1,)], "id long"))
    store.commit(spark.createDataFrame([(2, "x")], "id long, extra string"),
                 mode="append")
    store.compact(spark)
    got = store.read(spark)
    assert "extra" in got.columns
    vals = {r.id: r.asDict().get("extra") for r in got.collect()}
    assert vals == {1: None, 2: "x"}


def test_snapshot_diff_folds_duplicate_keys(spark, tmp_path):
    """An append-mode update (same key re-appended) must yield ONE
    'changed' row for the key, not contradictory duplicates from the
    full-outer join."""
    from servihabitat_etl_spyke_spark.sources.snapshots import (
        SnapshotStore, snapshot_diff)
    store = SnapshotStore(str(tmp_path / "snap3"))
    s1 = store.commit(spark.createDataFrame([(1, "a"), (2, "b")],
                                            "id long, v string"))
    store.commit(spark.createDataFrame([(1, "a2")], "id long, v string"),
                 mode="append")
    out = snapshot_diff(spark, store, "id", from_snapshot=s1).collect()
    rows = sorted((r.id, r.change) for r in out)
    assert rows == [(1, "changed")]


def test_sheet_header_collision_raises(spark):
    """Round-6 review fix: two DISTINCT raw headers that sanitize to the
    same name ('first name' / 'firstname') raise a ValueError naming
    both, instead of emitting a duplicate-column DDL string that fails
    deep inside Spark analysis (mirrors the model-description guard)."""
    with pytest.raises(ValueError, match="first name"):
        sheet_from_rows(spark, [["first name", "firstname"], ["a", "b"]])
    with pytest.raises(ValueError, match="duplicate"):
        sheet_from_rows(spark, [["id", "id"], ["1", "2"]])


def test_objectstore_transport_contract():
    """S3 (r6): the reference S3Bucket's operational contract against the
    in-memory client — exists-gated presign, the list() Prefix+Delimiter
    quirk (sent only when BOTH are given; CommonPrefixes preferred when
    non-empty), ListObjectsV2 delimiter rollup, 25-line read batches
    with remainder flush and CRLF handling, idempotent delete."""
    from servihabitat_etl_spyke_spark.sources.objectstore import (
        MemoryObjectClient, S3ObjectStore)
    cl = MemoryObjectClient()
    st = S3ObjectStore(cl, "corpus")
    st.put("photos/2021/a.json", '{"k":1}')
    st.put("photos/2021/b.json", '{"k":2}')
    st.put("photos/2022/c.json", '{"k":3}')
    st.put("readme.txt", "hello")

    # presign: exists-gated, expiry embedded; missing resource raises
    url = st.presigned_url("readme.txt", expiration=60)
    assert "X-Amz-Expires=60" in url and url.startswith(
        "https://corpus.s3.amazonaws.com/readme.txt")
    with pytest.raises(ValueError, match="does not exist"):
        st.presigned_url("missing.txt")
    assert st.public_url("photos/2021/a.json") == \
        "https://corpus.s3.amazonaws.com/photos/2021/a.json"

    # list: both prefix+delimiter -> directory-style common prefixes
    got = st.list("photos/", "/")
    assert [g["Prefix"] for g in got] == ["photos/2021/", "photos/2022/"]
    # prefix WITHOUT delimiter -> the reference sends NO params (full
    # listing), its exact quirk
    full = st.list("photos/")
    assert [g["Key"] for g in full] == [
        "photos/2021/a.json", "photos/2021/b.json",
        "photos/2022/c.json", "readme.txt"]
    assert cl.calls[-1] == ("list_objects_v2", None, None)

    # read_resource: 60 lines -> batches of 25/25/10; CRLF tolerated
    st.put("big.jsonl", "\r\n".join(f"line{i}" for i in range(60)) + "\n")
    batches = []
    st.read_resource("big.jsonl", batches.append)
    assert [len(b) for b in batches] == [25, 25, 10]
    assert batches[0][0] == "line0" and batches[2][-1] == "line59"
    # lone \r is ALSO a line break (Node readline's terminator set)
    st.put("cr.txt", "a\rb\r\nc\nd")
    crb = []
    st.read_resource("cr.txt", crb.append, batch_size=10)
    assert crb == [["a", "b", "c", "d"]]
    with pytest.raises(ValueError, match="does not exist"):
        st.read_resource("nope.jsonl", batches.append)

    # delete: idempotent, listing shrinks
    st.delete("readme.txt")
    st.delete("readme.txt")
    assert not st.resource_exists("readme.txt")
