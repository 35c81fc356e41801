"""Engine facade tests: the one-object user surface."""

from __future__ import annotations

import contextlib
import uuid

import pytest

from servihabitat_etl_spyke_spark.engine import Engine
from servihabitat_etl_spyke_spark.model import FieldSpec, model


@pytest.fixture(scope="module")
def eng(spark, sf_dir):
    e = Engine(spark, sf_dir)
    e.register_default_models()
    return e


def test_list_filter_order_page(eng):
    rows = eng.list("orders", filter={"o_orderstatus": "F"},
                    order_by="o_totalprice", order_direction="desc",
                    items_per_page=5, page=0).collect()
    assert 0 < len(rows) <= 5
    prices = [r["o_totalprice"] for r in rows]
    assert prices == sorted(prices, reverse=True)
    assert all(r["o_orderstatus"] == "F" for r in rows)


def test_page_envelope_shape(eng):
    env = eng.page("orders", items_per_page=10, page=1)
    assert set(env) >= {"itemsPerPage", "items", "total", "page", "pages"}
    assert env["itemsPerPage"] == 10 and env["page"] == 1
    assert env["pages"] == -(-env["total"] // 10)
    assert len(env["items"].collect()) <= 10


def test_group_options_mode(eng):
    opts = [r[0] for r in eng.list("orders", group="o_orderpriority").collect()]
    assert opts == sorted(opts) and len(opts) <= 100


def test_sql_over_registered_views(eng):
    n = eng.sql("SELECT count(*) AS n FROM lineitem").first()["n"]
    assert n == eng.table("lineitem").count() > 0


def test_run_named_query(eng):
    out = eng.run("total_count").first()
    assert out["total"] == eng.table("lineitem").count()
    assert "dedup_minhash_lsh" in eng.queries()


def test_runtime_model_registration(eng):
    eng.register_model(model(
        "part",
        FieldSpec("p_partkey", is_id=True, indexed=True),
        FieldSpec("p_brand", group_index=True),
        default_order_by="p_partkey"))
    rows = eng.list("part", order_by="p_retailprice",
                    order_direction="desc", items_per_page=3).collect()
    assert len(rows) == 3
    vals = [r["p_retailprice"] for r in rows]
    assert vals == sorted(vals, reverse=True)


def test_sql_views_refresh_on_reregistration(spark, sf_dir, tmp_path):
    """Re-registering a model under an existing name must refresh the SQL
    views even though the model COUNT is unchanged (a len()-based check
    missed it), and a backing parquet that appears after the first sql()
    call must become visible."""
    import os

    from servihabitat_etl_spyke_spark.catalog import TABLES, table_path

    for t in TABLES:
        os.symlink(table_path(sf_dir, t), tmp_path / f"{t}.parquet")
    e = Engine(spark, str(tmp_path))
    e.register_default_models()
    e.register_model(model("extra", FieldSpec("id", is_id=True)))
    assert e.sql("SELECT count(*) AS n FROM orders").first()["n"] > 0
    # backing file appears AFTER the first sql(); same model count
    spark.createDataFrame([(1, "x")], "id long, v string") \
        .write.parquet(str(tmp_path / "extra.parquet"))
    e.register_model(model("extra", FieldSpec("id", is_id=True)))
    assert e.sql("SELECT v FROM extra").first()["v"] == "x"


def test_sheet_backed_runtime_model_lifecycle(spark, sf_dir):
    """objectsAPI.ts:169 storage choice: a runtime model on the sheet
    backend — all-string columns, header+rows bootstrap, keyed
    update-else-append put, served through the standard list path."""
    e = Engine(spark, sf_dir)
    e.create_model({
        "name": "crew_sheet",
        "keys": {
            "crew_id": {"type": "string", "modifiers": [{"name": "id"}]},
            "role": {"type": "string"},
        },
    }, data=[["crew_id", "role"],
             ["1", "pilot"],
             ["2", "navigator", "extra-cell-dropped"],
             ["10"]],                      # short row pads to ''
       storage="sheet")
    rows = {r["crew_id"]: r["role"]
            for r in e.list("crew_sheet", all_rows=True).collect()}
    assert rows == {"1": "pilot", "2": "navigator", "10": ""}
    # put: update-in-place + append; ints coerce to sheet strings
    e.put("crew_sheet", [{"crew_id": 2, "role": "captain"},
                         {"crew_id": 3, "role": "engineer"}])
    rows = {r["crew_id"]: r["role"]
            for r in e.list("crew_sheet", all_rows=True).collect()}
    assert rows == {"1": "pilot", "2": "captain", "3": "engineer", "10": ""}
    # sheet ordering is string-typed: '1' < '10' < '2' < '3'
    ordered = [r["crew_id"] for r in
               e.list("crew_sheet", order_by="crew_id",
                      all_rows=True).collect()]
    assert ordered == ["1", "10", "2", "3"]
    # SQL-visible alongside the parquet catalog, refreshed after put
    assert e.sql("SELECT count(*) AS n FROM crew_sheet").first()["n"] == 4


def test_sheet_storage_validation(spark, sf_dir):
    import pytest
    e = Engine(spark, sf_dir)
    with pytest.raises(ValueError, match="bind_to"):
        e.create_model({"name": "s1", "keys": {"a": {"type": "string"}}},
                       bind_to="orders", storage="sheet")
    with pytest.raises(ValueError, match="header"):
        e.create_model({"name": "s2", "keys": {"a": {"type": "string"}}},
                       data=[["wrong_col"], ["x"]], storage="sheet")
    with pytest.raises(ValueError, match="unknown storage"):
        e.create_model({"name": "s3", "keys": {"a": {"type": "string"}}},
                       storage="leveldb")


def test_engine_point_read_and_delete(spark, sf_dir):
    """CRUD closure on the facade: GET-one applies view masking and
    string-coerced id match; DELETE is the keyed anti-filter."""
    e = Engine(spark, sf_dir)
    e.create_model({
        "name": "gadgets",
        "keys": {
            "gid": {"type": "number", "params": ["int"],
                    "modifiers": [{"name": "id"}]},
            "label": {"type": "string"},
            "secret_code": {"type": "string",
                            "modifiers": [{"name": "secret"}]},
        },
    }, data=[{"gid": 1, "label": "a", "secret_code": "s1"},
             {"gid": 2, "label": "b", "secret_code": "s2"}])
    got = e.read("gadgets", "1")          # string-coerced id
    assert got == {"gid": 1, "label": "a"}   # secret masked in EVERY view
    assert e.read("gadgets", 1, view="list") == {"gid": 1, "label": "a"}
    assert e.read("gadgets", 99) is None
    e.delete("gadgets", [1])
    assert e.read("gadgets", 1) is None
    assert e.list("gadgets", all_rows=True).count() == 1
    import pytest
    with pytest.raises(KeyError):
        e.delete("orders", [1])           # parquet tables are immutable


def test_parameterized_automation(spark, sf_dir):
    """UD1: named automations take parameters; registry queries still
    run unchanged; wrong param names are a TypeError."""
    from pyspark.sql import functions as F
    e = Engine(spark, sf_dir)

    def top_orders(spark_, sf_dir_, *, status, limit=5):
        from servihabitat_etl_spyke_spark.catalog import load_table
        return (load_table(spark_, sf_dir_, "orders")
                .filter(F.col("o_orderstatus") == status)
                .orderBy(F.col("o_totalprice").desc())
                .limit(limit))

    e.register_automation("top_orders", top_orders)
    assert "top_orders" in e.queries()
    out = e.run("top_orders", status="F", limit=3).collect()
    assert len(out) == 3
    assert all(r["o_orderstatus"] == "F" for r in out)
    assert e.run("total_count").first()["total"] > 0   # registry unchanged
    with pytest.raises(TypeError):
        e.run("top_orders", wrong_param=1)


def test_delete_keeps_null_id_rows(spark, sf_dir):
    """Deleting one key must not destroy rows whose id is NULL —
    ~isin(...) evaluates to NULL (dropped by filter) for a NULL id."""
    from servihabitat_etl_spyke_spark.engine import Engine
    from servihabitat_etl_spyke_spark.model import FieldSpec, model as mk
    eng = Engine(spark, sf_dir)
    m = mk("nulltest", FieldSpec("id", is_id=True), FieldSpec("v"))
    df = spark.createDataFrame(
        [("x", "keepme-x"), (None, "null-row"), ("y", "keepme-y")],
        "id string, v string")
    eng.create_model({"name": "nulltest", "keys": {
        "id": {"modifiers": [{"name": "id"}]}, "v": {}}}, data=df)
    eng.delete("nulltest", ["x"])
    vals = {r.v for r in eng.table("nulltest").collect()}
    assert vals == {"null-row", "keepme-y"}


def test_sheet_put_serializes_none_as_empty(spark, sf_dir):
    """Engine.put on a sheet model writes '' for None (an empty cell),
    never the text 'None' — the SheetTransport null contract."""
    from servihabitat_etl_spyke_spark.engine import Engine
    eng = Engine(spark, sf_dir)
    eng.create_model({"name": "s", "keys": {
        "id": {"modifiers": [{"name": "id"}]}, "note": {}}},
        data=[["id", "note"], ["1", "hello"]], storage="sheet")
    eng.put("s", [{"id": "2", "note": None}])
    got = {r.id: r.note for r in eng.table("s").collect()}
    assert got == {"1": "hello", "2": ""}


def test_runtime_model_search_false_and_generate_const(spark, sf_dir):
    """JSON-description parity: search(false) excludes a field from
    free-text search (ProtoModel.ts:205-211) and generate(<const>) fills
    NULLs at create with the literal."""
    from servihabitat_etl_spyke_spark.engine import Engine
    from servihabitat_etl_spyke_spark.model import model_from_json_description
    m = model_from_json_description({"name": "g", "keys": {
        "id": {"modifiers": [{"name": "id"}]},
        "body": {},
        "raw": {"modifiers": [{"name": "search", "params": [False]}]},
        "sdk": {"modifiers": [{"name": "generate", "params": ["esphome"]}]},
    }})
    assert m.fields["raw"].searchable is False
    assert m.fields["body"].searchable is True
    gen = m.fields["sdk"].generate
    assert gen is not None and m.fields["sdk"].generate_force is False
    eng = Engine(spark, sf_dir)
    df = spark.createDataFrame(
        [("1", "findable text", "alsofindable", None)],
        "id string, body string, raw string, sdk string")
    eng.register_model(m)
    # search must not match through the search(false) column
    from servihabitat_etl_spyke_spark.plans.listquery import (
        ListParams, list_query)
    hit = list_query(df, m, ListParams(search="findable", all=True))
    assert hit.count() == 1            # matched via body
    miss = list_query(df, m, ListParams(search="alsofindable", all=True))
    assert miss.count() == 0           # raw is search(false)


def test_list_respects_model_default_order_direction(eng):
    """O4 parity: Engine.list('events') with no explicit direction must
    come back newest-first (EVENTS declares default_order_direction=
    'desc'); a literal 'asc' default in list()/page() shadowed it."""
    ts = [r["ts"] for r in eng.list("events", items_per_page=5).collect()]
    assert ts == sorted(ts, reverse=True)
    env = eng.page("events", items_per_page=5)
    pts = [r["ts"] for r in env["items"].collect()]
    assert pts == sorted(pts, reverse=True)
    # an explicit direction still wins
    asc = [r["ts"] for r in eng.list(
        "events", order_by="ts", order_direction="asc",
        items_per_page=5).collect()]
    assert asc == sorted(asc)


def test_r6_engine_and_source_guards(spark, tmp_path):
    """Round-6 review fixes: put() dedups duplicate ids within one batch
    (last wins, the reference's sequential db.put loop); read() matches
    numeric ids via the P1 same-family predicate; snapshot_diff sees
    changes inside array columns; enrich refuses an existing out_col."""
    import pytest
    from pyspark.sql import functions as F
    from servihabitat_etl_spyke_spark.engine import Engine
    from servihabitat_etl_spyke_spark.operators.enrich import llm_enrich
    from servihabitat_etl_spyke_spark.sources.snapshots import (
        SnapshotStore, snapshot_diff)

    eng = Engine(spark, "/root/testdata/sf0.001")
    eng.create_model(
        {"name": "gadgets",
         "keys": {"gid": {"type": "string", "modifiers": [{"name": "id"}]},
                  "label": {"type": "string"}}},
        data=[{"gid": "1", "label": "a"}])
    # duplicate ids in ONE batch: last occurrence wins, one row stored
    eng.put("gadgets", [{"gid": "2", "label": "x"},
                        {"gid": "2", "label": "y"}])
    rows = eng.list("gadgets", all_rows=True).collect()
    assert sorted((r.gid, r.label) for r in rows) == [("1", "a"),
                                                      ("2", "y")]

    # numeric-id point read matches like the list filter does
    eng.create_model(
        {"name": "nums",
         "keys": {"nid": {"type": "number", "modifiers": [{"name": "id"}]},
                  "v": {"type": "string"}}},
        data=[{"nid": 1.0, "v": "one"}])
    assert eng.read("nums", 1)["v"] == "one"

    # snapshot_diff: a change INSIDE an array column is a 'changed' row
    store = SnapshotStore(str(tmp_path / "cx"))
    store.commit(spark.createDataFrame(
        [(1, ["a", "b"])], "k long, v array<string>"))
    store.commit(spark.createDataFrame(
        [(1, ["a, b"])], "k long, v array<string>"), mode="overwrite")
    diff = snapshot_diff(spark, store, "k", 1, 2).collect()
    assert [(r.k, r.change) for r in diff] == [(1, "changed")]

    # enrich: existing out_col fails at plan-build time, not mid-job
    df = spark.createDataFrame([(1, "p", "old")],
                               "id long, prompt string, completion string")
    with pytest.raises(ValueError, match="already exists"):
        llm_enrich(df, "prompt", client=lambda xs: xs)


# -- runtime-model writes: bounded cost and parity with a keyed fold --------

def _plan_nodes(df) -> int:
    def count(plan) -> int:
        kids = plan.children()
        return 1 + sum(count(kids.apply(i)) for i in range(kids.size()))
    return count(df._jdf.queryExecution().analyzed())


def _fold(store: list[tuple], op: str, arg: list, key: int) -> list[tuple]:
    """Pure-Python keyed store: put replaces each id's row (the LAST row
    of a batch wins) and appends new ids; delete drops ids whose string
    form is listed. Null-id rows are never matched, so they survive both."""
    if op == "put":
        batch = {r[key]: r for r in arg}
        return [r for r in store
                if r[key] is None or r[key] not in batch] + list(batch.values())
    gone = {str(i) for i in arg}
    return [r for r in store if r[key] is None or str(r[key]) not in gone]


def _rows(df) -> list[tuple]:
    return sorted((tuple(r) for r in df.collect()), key=repr)


def test_runtime_model_write_cost_is_bounded(spark, sf_dir):
    """Thirty alternating writes leave the model's analyzed plan exactly
    as large as right after declaration (each write updates the rows the
    Engine holds and the next request gets one local relation, not a
    plan stacked onto the lineage), and every list in between equals the
    keyed fold. A burst of writes with no request between them runs no
    Spark job."""
    import random
    rng = random.Random(7)
    e = Engine(spark, sf_dir)
    store = [(f"k{i}", rng.randrange(100)) for i in range(40)]
    e.create_model({"name": "flat", "keys": {
        "k": {"modifiers": [{"name": "id"}]},
        "n": {"type": "number", "params": ["int"]}}},
        data=[{"k": k, "n": n} for k, n in store])
    nodes = _plan_nodes(e.table("flat"))
    for step in range(30):
        if step % 2 == 0:
            batch = [(f"k{rng.randrange(60)}", rng.randrange(100))
                     for _ in range(rng.randint(1, 3))]
            e.put("flat", [{"k": k, "n": n} for k, n in batch])
            store = _fold(store, "put", batch, 0)
        else:
            ids = [f"k{rng.randrange(60)}"]
            e.delete("flat", ids)
            store = _fold(store, "delete", ids, 0)
        assert _plan_nodes(e.table("flat")) == nodes, step
        assert _rows(e.list("flat", all_rows=True)) == sorted(store,
                                                              key=repr)

    def last_job():
        return max(spark.sparkContext.statusTracker().getJobIdsForGroup(),
                   default=-1)

    before = last_job()
    for i in range(20):
        e.put("flat", [{"k": f"k{i}", "n": i}])
        e.delete("flat", [f"k{i + 1}"])
        store = _fold(_fold(store, "put", [(f"k{i}", i)], 0),
                      "delete", [f"k{i + 1}"], 0)
    assert last_job() == before
    assert _rows(e.table("flat")) == sorted(store, key=repr)


_PARITY_KINDS = ("string", "long", "double", "sheet", "dataframe",
                 "null_id", "date")


@pytest.mark.parametrize("kind", _PARITY_KINDS)
def test_runtime_model_write_parity(spark, sf_dir, kind):
    """Seeded random put/delete sequences against the keyed fold, per id
    type and storage: string/long/double ids, a sheet model (None is
    stored as ''), DataFrame-input puts, duplicate ids within a batch
    (last wins), null-id rows that survive deletes, and a date field
    whose stored values equal createDataFrame(list)'s."""
    import datetime as dt
    import random
    rng = random.Random(_PARITY_KINDS.index(kind))
    id_type = {"long": ("number", ["int"]), "double": ("number", [])}.get(
        kind, ("string", []))
    spec = {"name": f"par_{kind}", "keys": {
        "id": {"type": id_type[0], "params": id_type[1],
               "modifiers": [{"name": "id"}]},
        "v": {"type": "date" if kind == "date" else "string"}}}
    mk_id = {"long": lambda i: i, "double": lambda i: i + 0.5}.get(
        kind, lambda i: f"i{i}")

    def mk_v():
        if kind == "date":
            return dt.datetime(2024, 1, 1) + dt.timedelta(
                seconds=rng.randrange(10 ** 7), microseconds=rng.randrange(
                    10 ** 6))
        return rng.choice(("a", "b", None))

    def stored(v):
        return "" if kind == "sheet" and v is None else v

    start = [(mk_id(i), mk_v()) for i in range(6)]
    if kind == "sheet":
        e_data = [["id", "v"]] + [[i, stored(v)] for i, v in start]
        store = [(i, stored(v)) for i, v in start]
    elif kind == "null_id":
        start.append((None, "null-row"))
        e_data = spark.createDataFrame(start, "id string, v string")
        store = list(start)
    else:
        e_data = [{"id": i, "v": v} for i, v in start]
        store = list(start)
    e = Engine(spark, sf_dir)
    m = e.create_model(spec, data=e_data,
                       storage="sheet" if kind == "sheet" else "native")
    for _ in range(8):
        if rng.random() < 0.6:
            batch = [(mk_id(rng.randrange(9)), mk_v())
                     for _ in range(rng.randint(1, 4))]
            if kind == "null_id" and rng.random() < 0.5:
                batch.append((None, "new-null"))
            if kind == "dataframe":
                e.put(m.name, spark.createDataFrame(batch,
                                                    "id string, v string"))
            else:
                e.put(m.name, [{"id": i, "v": v} for i, v in batch])
            store = _fold(store, "put", [(i, stored(v)) for i, v in batch], 0)
        else:
            ids = [mk_id(rng.randrange(9)) for _ in range(rng.randint(1, 2))]
            e.delete(m.name, ids)
            store = _fold(store, "delete", ids, 0)
        assert _rows(e.table(m.name)) == sorted(store, key=repr)
    if kind == "date":
        assert _rows(e.table(m.name)) == _rows(
            spark.createDataFrame(store, m.schema))


def test_bound_model_writes_stay_lazy(spark, tmp_path):
    """A bind_to model is never collected into the driver: after a put
    and a delete its plan still scans the parquet table, and its rows
    equal the keyed fold."""
    spark.createDataFrame([(i, f"v{i}") for i in range(5)],
                          "bid long, v string") \
        .write.parquet(str(tmp_path / "bound.parquet"))
    e = Engine(spark, str(tmp_path))
    e.create_model({"name": "b", "keys": {
        "bid": {"type": "number", "params": ["int"],
                "modifiers": [{"name": "id"}]},
        "v": {}}}, bind_to="bound")
    store = [(i, f"v{i}") for i in range(5)]
    e.put("b", [{"bid": 2, "v": "two"}, {"bid": 9, "v": "nine"},
                {"bid": 9, "v": "NINE"}])
    store = _fold(store, "put", [(2, "two"), (9, "nine"), (9, "NINE")], 0)
    e.delete("b", [0, 9])
    store = _fold(store, "delete", [0, 9], 0)
    plan = e.table("b")._jdf.queryExecution().analyzed().toString()
    assert "parquet" in plan.lower() and "LocalRelation" in plan
    assert _rows(e.table("b")) == sorted(store, key=repr)


def test_runtime_model_rows_are_type_checked(spark, sf_dir):
    e = Engine(spark, sf_dir)
    spec = {"name": "typed", "keys": {
        "id": {"modifiers": [{"name": "id"}]},
        "n": {"type": "number", "params": ["int"]}}}
    with pytest.raises(TypeError):
        e.create_model(spec, data=[{"id": "a", "n": "not-a-number"}])
    e.create_model(spec, data=[{"id": "a", "n": 1}])
    with pytest.raises(TypeError):
        # the bad row is dropped by last-wins, but still checked
        e.put("typed", [{"id": "b", "n": "x"}, {"id": "b", "n": 2}])
    assert _rows(e.table("typed")) == [("a", 1)]


def test_parquet_tables_are_held_until_rewritten(spark, tmp_path,
                                                 monkeypatch):
    """An unchanged parquet table is loaded once however many requests
    read it, and its rows are collected into the driver (the Arrow hold
    that list and read evaluate) once; after a rewrite (Spark overwrite
    of a directory table, an in-place rewrite of a single-file table, an
    append into a partition directory) both are loaded again and the
    next list, read and sql all see the new rows."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from servihabitat_etl_spyke_spark import engine as engine_mod

    loads = []
    real = engine_mod.load_table

    def counting(spark_, sf, name):
        loads.append(name)
        return real(spark_, sf, name)

    monkeypatch.setattr(engine_mod, "load_table", counting)
    # each Arrow hold of a parquet table: the table's name
    holds = []
    real_rel = engine_mod.ArrowRelation

    def holding(spark_, table, schema):
        holds.append(loads[-1])
        return real_rel(spark_, table, schema)

    monkeypatch.setattr(engine_mod, "ArrowRelation", holding)
    d_path, f_path = tmp_path / "dir_t.parquet", tmp_path / "file_t.parquet"
    spark.createDataFrame([(1, "a"), (2, "b")], "wid long, v string") \
        .write.parquet(str(d_path))
    pq.write_table(pa.table({"wid": [1], "v": ["x"]}), str(f_path))
    e = Engine(spark, str(tmp_path))
    for name in ("dir_t", "file_t"):
        e.register_model(model(name, FieldSpec("wid", is_id=True),
                               FieldSpec("v"), default_order_by="wid"))

    def seen(name, wid):
        return ([tuple(r) for r in e.list(name, all_rows=True).collect()],
                e.read(name, wid),
                [tuple(r) for r in
                 e.sql(f"SELECT wid, v FROM {name} ORDER BY wid").collect()])

    for _ in range(10):
        e.list("dir_t", items_per_page=1).collect()
    assert loads == ["dir_t"] and holds == ["dir_t"]
    assert seen("dir_t", 1) == ([(1, "a"), (2, "b")], {"wid": 1, "v": "a"},
                                [(1, "a"), (2, "b")])
    assert seen("file_t", 1) == ([(1, "x")], {"wid": 1, "v": "x"}, [(1, "x")])
    assert sorted(loads) == ["dir_t", "file_t"] == sorted(holds)

    spark.createDataFrame([(3, "c")], "wid long, v string") \
        .write.mode("overwrite").parquet(str(d_path))
    pq.write_table(pa.table({"wid": [7, 8], "v": ["y", "z"]}), str(f_path))
    assert seen("dir_t", 3) == ([(3, "c")], {"wid": 3, "v": "c"}, [(3, "c")])
    assert seen("file_t", 8) == ([(7, "y"), (8, "z")], {"wid": 8, "v": "z"},
                                 [(7, "y"), (8, "z")])
    assert sorted(loads) == ["dir_t", "dir_t", "file_t", "file_t"]
    assert sorted(holds) == sorted(loads)

    # an append inside an existing partition directory leaves the table
    # directory's own mtime as it was; it is still seen
    p_path = tmp_path / "part_t.parquet"
    spark.createDataFrame([(1, "a", 0)], "wid long, v string, p int") \
        .write.partitionBy("p").parquet(str(p_path))
    e.register_model(model("part_t", FieldSpec("wid", is_id=True),
                           FieldSpec("v"), default_order_by="wid"))
    assert e.list("part_t", all_rows=True).count() == 1
    assert holds[-1] == "part_t"
    top = os.stat(p_path).st_mtime_ns
    pq.write_table(pa.table({"wid": [2], "v": ["b"]}),
                   str(p_path / "p=0" / "appended.parquet"))
    assert os.stat(p_path).st_mtime_ns == top
    assert e.list("part_t", all_rows=True).count() == 2
    assert holds[-2:] == ["part_t", "part_t"]
    assert e.sql("SELECT count(*) FROM part_t").collect()[0][0] == 2


@contextlib.contextmanager
def _spark_jobs(spark):
    """Yields a list that, after the block, holds the ids of the Spark
    jobs the block ran: a job group is set around it and read through
    ``statusTracker`` once the listener bus has caught up."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    ids: list = []
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


def test_held_relations_answer_without_spark_jobs(spark, tmp_path):
    """list, page and read over a held relation (a small parquet table, a
    row-held runtime model) run no Spark job and give the Spark plan's
    answers; the first hold of a parquet table is one job (its
    ``toArrow``)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from servihabitat_etl_spyke_spark.plans.listquery import (
        ListParams, list_page, list_query)
    pq.write_table(pa.table({"hid": [3, 1, 2], "v": ["c", "a", "c"]}),
                   str(tmp_path / "held_t.parquet"))
    e = Engine(spark, str(tmp_path))
    e.register_model(model("held_t", FieldSpec("hid", is_id=True),
                           FieldSpec("v", group_index=True),
                           default_order_by="hid"))
    e.create_model({"name": "rows_t", "keys": {
        "rid": {"modifiers": [{"name": "id"}]},
        "v": {"modifiers": [{"name": "groupIndex"}]}}},
        data=[{"rid": "b", "v": "x"}, {"rid": "a", "v": "y"}])
    e.table("held_t")           # the load and its footer job come first
    with _spark_jobs(spark) as first:
        e.list("held_t").collect()
    assert len(first) == 1

    def rows(df):
        return [tuple(r) for r in df.collect()]

    for name, rid in (("held_t", 2), ("rows_t", "a")):
        with _spark_jobs(spark) as jobs:
            listed = rows(e.list(name, order_by="v", order_direction="desc"))
            env = e.page(name, items_per_page=1, page=1)
            env["items"] = rows(env["items"])
            options = rows(e.list(name, group="v"))
            hit = e.read(name, rid)
        assert jobs == [], name
        df, m = e.table(name), e.model(name)
        want_env = list_page(df, m, ListParams(items_per_page=1, page=1))
        want_env["items"] = rows(want_env["items"])
        assert listed == rows(list_query(df, m, ListParams(
            order_by="v", order_direction="desc")))
        assert env == want_env
        assert options == rows(list_query(df, m, ListParams(group="v")))
        assert hit == df.filter(df[m.id_field] == rid).collect()[0].asDict()


def _typed(value):
    """A collected value with the Python type of every part, in a form
    ``==`` compares exactly: a float by ``repr`` (NaN equal to NaN,
    -0.0 apart from 0.0), a Row with its field names, a dict in key
    order."""
    from pyspark.sql import Row
    if isinstance(value, float):
        return "float", repr(value)
    if isinstance(value, Row):
        return "Row", tuple(value.__fields__), [_typed(v) for v in value]
    if isinstance(value, dict):
        return "dict", sorted((repr(_typed(k)), _typed(v))
                              for k, v in value.items())
    if isinstance(value, (list, tuple)):
        return type(value).__name__, [_typed(v) for v in value]
    return type(value).__name__, value


_ALL_TYPES = ("tid long, s string, b byte, sh short, i int, f float, "
              "d double, bo boolean, dec decimal(12,3), dt date, "
              "ts timestamp, ntz timestamp_ntz, bin binary, "
              "arr array<timestamp>, m map<string,date>, "
              "st struct<x: int, y: binary, z: array<string>>")


def _all_types_rows():
    import datetime as dt
    from decimal import Decimal
    return [
        (1, "é", 1, -2, 3, 1.1, float("nan"), True, Decimal("1.500"),
         dt.date(1969, 12, 31), dt.datetime(2024, 3, 10, 2, 30, 0, 5),
         dt.datetime(1900, 1, 1, 0, 0, 0, 7), b"\x00ab",
         [dt.datetime(2024, 1, 1), None], {"k": dt.date(2020, 2, 29),
                                           "n": None},
         (1, b"x", ["a", None])),
        (2,) + (None,) * 15,
        (3, "", -128, 32767, -2 ** 31, float("-inf"), -0.0, False,
         Decimal("0.000"), dt.date(1, 1, 1), dt.datetime(1, 1, 2),
         dt.datetime(9999, 12, 31, 23, 59, 59, 999999), b"", [], {},
         (None, None, None)),
        (4, "x", 0, 0, 0, 0.0, 0.0, None, Decimal("-123456789.123"),
         dt.date(2024, 6, 1), dt.datetime(2024, 10, 27, 2, 30),
         dt.datetime(2024, 10, 27, 2, 30), b"\xff", [None], {"a": None},
         None),
    ]


def _answers(df) -> tuple:
    return ([_typed(r) for r in df.collect()], df.count(), df.schema,
            df.columns)


def test_held_page_collects_as_its_local_relation(spark, tmp_path):
    """A held list's page, carrying every atomic type, nulls, NaN and
    ±0.0, arrays, maps and structs, answers ``collect()``, ``count()``,
    ``schema`` and ``columns`` as the JVM LocalRelation it stands for
    does, each value's Python type included; so does a page whose
    timestamps Arrow holds without a zone (``createDataFrame`` reads
    them in the session zone, so the JVM collects that column). Under
    the UTC and a non-UTC session zone, and with binary values collected
    as bytes and as bytearray."""
    import pyarrow as pa

    from pyspark.sql import types as T
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

    from servihabitat_etl_spyke_spark.plans.listquery import ArrowPage
    spark.createDataFrame(_all_types_rows(), _ALL_TYPES) \
        .write.parquet(str(tmp_path / "typ_t.parquet"))
    e = Engine(spark, str(tmp_path))
    e.register_model(model("typ_t", FieldSpec("tid", is_id=True),
                           *(FieldSpec(c.split()[0])
                             for c in _ALL_TYPES.split(", ")[1:])))
    naive = pa.table({"ts": pa.array([0, 1_700_000_000_123_456, None],
                                     pa.timestamp("us"))})
    conf = spark.conf
    try:
        for zone, as_bytes in (("UTC", "true"),
                               ("America/Los_Angeles", "false")):
            conf.set("spark.sql.session.timeZone", zone)
            conf.set("spark.sql.execution.pyspark.binaryAsBytes", as_bytes)
            pages = [e.list("typ_t", all_rows=True),
                     e.list("typ_t", order_by="ts", order_direction="desc",
                            items_per_page=2, page=1),
                     ArrowPage(spark, naive, T.StructType.fromDDL(
                         "ts timestamp"))]
            for page in pages:
                assert isinstance(page, ArrowPage)
                got = _answers(page)
                jvm = ClassicDataFrame(page._jdf, spark)
                assert got == _answers(jvm), (zone, page.columns)
            assert len(pages[0].collect()) == 4
            assert [r.tid for r in pages[1].collect()] == [3, 2]
    finally:
        conf.unset("spark.sql.session.timeZone")
        conf.unset("spark.sql.execution.pyspark.binaryAsBytes")


def test_held_page_collects_without_the_jvm(spark, tmp_path):
    """A held list's ``collect()``, ``count()``, ``schema`` and
    ``columns`` build no JVM plan; any other use builds it once and
    answers as the LocalRelation of the same rows does."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F
    pq.write_table(pa.table({"hid": [3, 1, 2], "v": ["c", "a", None]}),
                   str(tmp_path / "held_t.parquet"))
    e = Engine(spark, str(tmp_path))
    e.register_model(model("held_t", FieldSpec("hid", is_id=True),
                           FieldSpec("v"), default_order_by="hid"))
    e.create_model({"name": "rows_t", "keys": {
        "rid": {"modifiers": [{"name": "id"}]}, "v": {}}},
        data=[{"rid": "b", "v": "x"}, {"rid": "a", "v": None}])
    for name in ("held_t", "rows_t"):
        page = e.list(name)
        with _spark_jobs(spark) as jobs:
            rows, n = page.collect(), page.count()
            assert (page.columns, page.schema.names) == (
                [name[0] + "id", "v"], [name[0] + "id", "v"])
        assert jobs == [] and "_jdf" not in vars(page), name
        assert n == len(rows) == 3 - (name == "rows_t")
        plain = spark.createDataFrame(page._table, page.schema)
        assert page.filter(F.col("v").isNotNull()).collect() == \
            plain.filter(F.col("v").isNotNull()).collect()
        jdf = vars(page)["_jdf"]
        assert page.toPandas().equals(plain.toPandas())
        assert page._jdf is jdf
        assert (rows, page.schema, page.columns) == (
            plain.collect(), plain.schema, plain.columns)


_DECLINED = {
    # P1 across families on a double column: its cast to string is Java's
    "string_coercion": ({"filter": {"d": "1.5"}}, [1]),
    # P3 lowercases a string column holding non-ASCII text
    "non_ascii_lowercase": ({"search": "s:É"}, [1]),
    # P1 within the numeric family on a float column
    "numeric_column_type": ({"filter": {"f": 2.5}}, [2]),
    # P2 with a string bound on a long column
    "range_bound_family": ({"filter": {"did": {"from": "2"}}}, [2]),
    # O1 on a decimal column
    "sort_column_type": ({"order_by": "dec", "order_direction": "desc"},
                         [2, 1]),
    # P12 on a double column (Spark's distinct folds -0.0 into 0.0)
    "group_options_floating": ({"group": "d"}, [1.5, 2.0]),
    # a point read whose row holds an array
    "read_value_type": (None, {"did": 1, "arr": [1]}),
}


@pytest.mark.parametrize("rule", sorted(_DECLINED))
def test_declined_request_runs_on_spark(spark, tmp_path, rule):
    """Each rule under which the driver-side evaluator declines: the
    request runs Spark jobs even though the table is held, and returns
    the Spark plan's answer."""
    import datetime as dt
    from decimal import Decimal
    spark.createDataFrame(
        [(1, 1.5, 1.5, Decimal("1.50"), "é", dt.date(2024, 1, 1), [1]),
         (2, 2.0, 2.5, Decimal("2.00"), "b", dt.date(2024, 1, 2), [2])],
        "did long, d double, f float, dec decimal(10,2), s string, "
        "dt date, arr array<int>"
    ).write.parquet(str(tmp_path / "dec_t.parquet"))
    e = Engine(spark, str(tmp_path))
    e.register_model(model("dec_t", FieldSpec("did", is_id=True),
                           FieldSpec("d", group_index=True),
                           default_order_by="did"))
    assert e.list("dec_t").count() == 2       # the hold
    kw, want = _DECLINED[rule]
    with _spark_jobs(spark) as jobs:
        if kw is None:
            got = e.read("dec_t", 1, view="x")
            got = {k: got[k] for k in want}
        else:
            got = [r[0] for r in e.list("dec_t", **kw).collect()]
    assert jobs, rule
    assert got == want


def test_tables_over_the_hold_cap_run_on_spark(spark, tmp_path,
                                               monkeypatch):
    """A parquet table over ``HOLD_MAX_BYTES`` is answered by Spark: one
    over the cap on disk is never collected; one under it on disk but
    over it as Arrow is collected once, on its first request, and
    dropped."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from servihabitat_etl_spyke_spark import engine as engine_mod
    from servihabitat_etl_spyke_spark.plans.listquery import (
        ListParams, list_query)
    path = tmp_path / "big_t.parquet"
    # one repeated long string: a few KB on disk, 200 KB as Arrow
    pq.write_table(pa.table({"bid": list(range(200)),
                             "v": ["x" * 1000] * 200}), str(path))
    on_disk = os.path.getsize(path)
    collects = []
    frame = type(spark.range(0))
    real = frame.toArrow

    def counting(df):
        table = real(df)
        collects.append(table.nbytes)
        return table

    monkeypatch.setattr(frame, "toArrow", counting)
    m = model("big_t", FieldSpec("bid", is_id=True), FieldSpec("v"),
              default_order_by="bid")
    for cap, want_collects in ((on_disk - 1, 0), (on_disk, 1)):
        monkeypatch.setattr(engine_mod, "HOLD_MAX_BYTES", cap)
        collects.clear()
        e = Engine(spark, str(tmp_path))
        e.register_model(m)
        for _ in range(2):
            with _spark_jobs(spark) as jobs:
                got = [r.bid for r in e.list(
                    "big_t", order_by="bid", order_direction="desc",
                    items_per_page=3).collect()]
                hit = e.read("big_t", 7)
            assert jobs, cap
            assert got == [199, 198, 197] == [
                r.bid for r in list_query(e.table("big_t"), m, ListParams(
                    order_by="bid", order_direction="desc",
                    items_per_page=3)).collect()]
            assert hit == {"bid": 7, "v": "x" * 1000}
        assert len(collects) == want_collects, cap
        assert all(n > cap for n in collects)


def test_sql_views_are_shared_by_the_engines_of_a_session(spark, tmp_path):
    """Temp views belong to the session: two Engines on it that declare
    same-named models each see their own rows, however their SQL calls
    alternate."""
    a, b = Engine(spark, str(tmp_path)), Engine(spark, str(tmp_path))
    spec = {"name": "shared_v", "keys": {"k": {"modifiers": [{"name": "id"}]}}}
    a.create_model(spec, data=[{"k": "from-a"}])
    b.create_model(spec, data=[{"k": "from-b"}])
    for _ in range(2):
        for e, want in ((a, "from-a"), (b, "from-b")):
            assert [r.k for r in e.sql("SELECT k FROM shared_v").collect()
                    ] == [want]


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _one_partition_tables(spark, tmp_path):
    """An Engine over two single-file parquet tables (``sq_a``: id, grp,
    v; ``sq_b``: grp, label), which Spark reads as one partition each,
    plus the same files as plain temp views ``plain_a`` / ``plain_b``."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    n = 60
    pq.write_table(pa.table({"id": list(range(n)),
                             "grp": [f"g{i % 4}" for i in range(n)],
                             "v": [(i * 37) % 11 for i in range(n)]}),
                   str(tmp_path / "sq_a.parquet"))
    pq.write_table(pa.table({"grp": ["g0", "g1", "g2", "g5"],
                             "label": ["zero", "one", "two", "five"]}),
                   str(tmp_path / "sq_b.parquet"))
    for name, plain in (("sq_a", "plain_a"), ("sq_b", "plain_b")):
        df = spark.read.parquet(str(tmp_path / f"{name}.parquet"))
        assert df.rdd.getNumPartitions() == 1
        df.createOrReplaceTempView(plain)
    e = Engine(spark, str(tmp_path))
    e.register_model(model("sq_a", FieldSpec("id", is_id=True),
                           FieldSpec("grp"), FieldSpec("v")))
    e.register_model(model("sq_b", FieldSpec("grp", is_id=True),
                           FieldSpec("label")))
    return e


_GROUPED = ("SELECT grp, count(*) AS n, max(v) AS top FROM {t} "
            "WHERE id % {m} = 0 GROUP BY grp ORDER BY grp")


def test_grouped_sql_over_one_partition_tables_runs_one_job(spark,
                                                            tmp_path):
    """Grouped and ordered SQL over a held relation (a single-file
    parquet table, which Spark reads as one partition; a row-held
    runtime model of 200 rows, whose local relation this several-core
    session reads as several) plans no exchange and runs exactly one
    Spark job, where a plan with an exchange before the aggregate and
    the sort runs one per stage."""
    e = _one_partition_tables(spark, tmp_path)
    e.create_model({"name": "sq_rows", "keys": {
        "id": {"type": "number", "params": ["int"],
               "modifiers": [{"name": "id"}]},
        "grp": {"type": "string"}, "v": {"type": "number",
                                         "params": ["int"]}}},
        data=[{"id": i, "grp": f"g{i % 4}", "v": (i * 37) % 11}
              for i in range(200)])
    e.table("sq_a")             # the load and its footer job come first
    e.table("sq_rows").createOrReplaceTempView("plain_rows")
    assert e.table("sq_rows").rdd.getNumPartitions() > 1
    for name, plain, mod in (("sq_a", "plain_a", 2), ("sq_a", "plain_a", 3),
                             ("sq_rows", "plain_rows", 1),
                             ("sq_rows", "plain_rows", 3)):
        with _spark_jobs(spark) as jobs:
            df = e.sql(_GROUPED.format(t=name, m=mod))
            got = df.collect()
        assert len(jobs) == 1, (name, mod)
        assert "Exchange" not in _plan(df), _plan(df)
        assert got == spark.sql(_GROUPED.format(t=plain, m=mod)).collect()


def test_sql_over_a_multi_partition_table_keeps_its_exchange(spark,
                                                             tmp_path):
    """A directory table of several files, which Spark reads as more
    than one partition, keeps its plan (the exchange stays, so the read
    keeps its parallelism) and answers as the plain relation does."""
    path = str(tmp_path / "sq_wide.parquet")
    spark.range(200).selectExpr("id", "concat('g', id % 4) AS grp",
                                "id % 7 AS v") \
        .repartition(4).write.parquet(path)
    plain = spark.read.parquet(path)
    assert plain.rdd.getNumPartitions() > 1
    plain.createOrReplaceTempView("plain_wide")
    e = Engine(spark, str(tmp_path))
    e.register_model(model("sq_wide", FieldSpec("id", is_id=True),
                           FieldSpec("grp"), FieldSpec("v")))
    df = e.sql(_GROUPED.format(t="sq_wide", m=3))
    assert "Exchange" in _plan(df)
    assert df.collect() == spark.sql(
        _GROUPED.format(t="plain_wide", m=3)).collect()


_SHAPES = {
    "group_order": (_GROUPED.format(t="{a}", m=1), True),
    "window": ("SELECT id, grp, rank() OVER (PARTITION BY grp ORDER BY v, "
               "id) AS r FROM {a}", False),
    "count_distinct": ("SELECT grp, count(DISTINCT v) AS d FROM {a} "
                       "GROUP BY grp", False),
    "order_limit": ("SELECT id, v FROM {a} ORDER BY v DESC, id LIMIT 7",
                    True),
    "join": ("SELECT a.id, b.label FROM {a} a JOIN {b} b ON a.grp = b.grp",
             False),
}


@pytest.mark.parametrize("shape", sorted(_SHAPES))
def test_one_partition_views_answer_as_the_plain_relation(spark, tmp_path,
                                                          shape):
    """Grouped, windowed, distinct, top-k and joined SQL over the
    one-partition views return the rows the plain relations give (in
    order where the statement orders)."""
    e = _one_partition_tables(spark, tmp_path)
    stmt, ordered = _SHAPES[shape]
    got = e.sql(stmt.format(a="sq_a", b="sq_b")).collect()
    want = spark.sql(stmt.format(a="plain_a", b="plain_b")).collect()
    assert got
    if not ordered:
        got, want = sorted(got), sorted(want)
    assert got == want
    if shape != "join":         # a join of small tables broadcasts
        assert "Exchange" not in _plan(e.sql(stmt.format(a="sq_a")))


def test_sql_resolves_only_the_names_it_contains(spark, tmp_path,
                                                 monkeypatch):
    """After a write, SQL that does not name the written model builds no
    relation for it and loads no other table; the next statement that
    names it (in any case, backquoted or not) sees the write."""
    from servihabitat_etl_spyke_spark import engine as engine_mod
    e = _one_partition_tables(spark, tmp_path)
    e.create_model({"name": "sq_tix", "keys": {
        "tid": {"modifiers": [{"name": "id"}]}, "s": {}}},
        data=[{"tid": "a", "s": "open"}])
    assert e.sql("SELECT count(*) FROM sq_tix").first()[0] == 1
    e.put("sq_tix", [{"tid": "b", "s": "done"}])
    built, loads = [], []
    real_table, real_load = Engine.table, engine_mod.load_table
    monkeypatch.setattr(Engine, "table", lambda self, name: (
        built.append(name), real_table(self, name))[1])
    monkeypatch.setattr(engine_mod, "load_table", lambda spark_, sf, name: (
        loads.append(name), real_load(spark_, sf, name))[1])
    # sq_tix_old contains the model's name only as part of a word
    assert e.sql("SELECT count(*) AS sq_tix_old FROM sq_a").first()[0] == 60
    assert built == [] and loads == ["sq_a"]
    for stmt in ("SELECT s FROM SQ_TIX ORDER BY tid",
                 "SELECT s FROM `Sq_Tix` ORDER BY tid"):
        assert [r.s for r in e.sql(stmt).collect()] == ["open", "done"]
    assert built == ["sq_tix", "sq_tix"] and loads == ["sq_a"]
