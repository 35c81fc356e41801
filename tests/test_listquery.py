"""Unit tests for the list-query planner semantics (SURVEY.md §2.2, §2.5,
§4.3 parity traps). Every list-query case runs through both the Spark plan
and the driver-side Arrow evaluator (the ``list_paths`` fixture)."""

from __future__ import annotations

from pyspark.sql import functions as F

from servihabitat_etl_spyke_spark.model import FieldSpec, model
from servihabitat_etl_spyke_spark.plans.listquery import (
    ListParams, parse_search)

M = model(
    "m",
    FieldSpec("id", is_id=True, indexed=True),
    FieldSpec("name"),
    FieldSpec("status", group_index=True),
    FieldSpec("secret_col", secret=True),
    FieldSpec("notes", searchable=False),
)

ROWS = [
    ("1", "alpha tower", "pending", "s1", "findme"),
    ("2", "beta block", "in-progress", "s2", "x"),
    ("3", "Gamma Tower", "pending", "s3", "x"),
    ("4", "delta", "done", "s4", "x"),
]
COLS = ["id", "name", "status", "secret_col", "notes"]


def make_df(spark):
    return spark.createDataFrame(ROWS, COLS)


def test_parse_search_tags_and_freetext():
    # regex (\w+):("[^"]+"|\S+), keys lowercased, quotes stripped
    tags, free = parse_search('Status:pending city:"new york" tower')
    assert tags == {"status": "pending", "city": "new york"}
    assert free == "tower"


def test_parse_search_freetext_only():
    tags, free = parse_search("hello world")
    assert tags == {} and free == "hello world"


def test_eq_filter_string_coerced(spark, list_paths):
    df = make_df(spark)
    for lq in list_paths():
        out = lq.list(df, M, ListParams(filter={"status": "pending"}))
        assert {r.id for r in out.collect()} == {"1", "3"}, lq.name


def test_tag_search_case_insensitive_value(spark, list_paths):
    df = make_df(spark)
    for lq in list_paths():
        out = lq.list(df, M, ListParams(search="status:PENDING"))
        assert {r.id for r in out.collect()} == {"1", "3"}, lq.name


def test_tag_on_missing_column_drops_all(spark, list_paths):
    # parity trap §4.3.3: unknown tag key -> zero rows
    df = make_df(spark)
    for lq in list_paths():
        out = lq.list(df, M, ListParams(search="nosuchkey:x"))
        assert out.count() == 0, lq.name


def test_free_text_excludes_search_false(spark, list_paths):
    # 'findme' only appears in notes which is search(false)
    df = make_df(spark)
    for lq in list_paths():
        out = lq.list(df, M, ListParams(search="findme"))
        assert out.count() == 0, lq.name
        out2 = lq.list(df, M, ListParams(search="tower"))
        assert {r.id for r in out2.collect()} == {"1", "3"}, lq.name


def test_projection_masks_secret(spark, list_paths):
    df = make_df(spark)
    for lq in list_paths():
        out = lq.list(df, M, ListParams())
        assert "secret_col" not in out.columns, lq.name


def test_pagination_envelope(spark, list_paths):
    df = make_df(spark)
    for lq in list_paths():
        env = lq.page(df, M, ListParams(items_per_page=3, page=1,
                                        order_by="id"))
        assert env["total"] == 4 and env["pages"] == 2, lq.name
        assert [r.id for r in env["items"].collect()] == ["4"], lq.name


def test_items_per_page_floor_one(spark, list_paths):
    df = make_df(spark)
    for lq in list_paths():
        env = lq.page(df, M, ListParams(items_per_page=0, order_by="id"))
        assert env["itemsPerPage"] == 1, lq.name
        assert env["items"].count() == 1, lq.name


def test_all_bypasses_paging(spark, list_paths):
    df = make_df(spark)
    for lq in list_paths():
        out = lq.list(df, M, ListParams(items_per_page=1, all=True))
        assert out.count() == 4, lq.name


def test_group_options_mode(spark, list_paths):
    df = make_df(spark)
    for lq in list_paths():
        out = lq.list(df, M, ListParams(group="status"))
        assert {r.option for r in out.collect()} == {
            "pending", "in-progress", "done"}, lq.name
        out2 = lq.list(df, M, ListParams(group="status", group_search="p"))
        assert {r.option for r in out2.collect()} == {"pending"}, lq.name


def test_range_filter_inclusive(spark, list_paths):
    df = spark.createDataFrame([(i, float(i)) for i in range(10)], ["id", "v"])
    m = model("r", FieldSpec("id", is_id=True))
    for lq in list_paths():
        out = lq.list(df, m, ListParams(filter={"v": {"from": 2, "to": 5}},
                                        all=True))
        assert sorted(r.id for r in out.collect()) == [2, 3, 4, 5], lq.name


def test_default_order_direction_from_model(spark, list_paths):
    """The model's declared defaultOrderDirection must win when the
    request doesn't send one (``req.query.orderDirection ??
    defaultOrderDirection``, generateApi.ts:182) — the events
    newest-first O4 default was dead code while ListParams defaulted to
    the truthy 'asc'."""
    m = model("ev", FieldSpec("id", is_id=True),
              default_order_by="id", default_order_direction="desc")
    df = spark.createDataFrame([(1,), (2,), (3,)], ["id"])
    for lq in list_paths():
        out = lq.list(df, m, ListParams())
        assert [r.id for r in out.collect()] == [3, 2, 1], lq.name
        # an explicit request direction still overrides the model default
        out2 = lq.list(df, m, ListParams(order_direction="asc"))
        assert [r.id for r in out2.collect()] == [1, 2, 3], lq.name


def test_group_options_only_for_declared_indexes(spark, list_paths):
    """Parity with db.getGroupIndexOptions (db.ts:291-305): options exist
    only for DECLARED group indexes — an undeclared key (here a secret
    column) enumerates nothing instead of leaking its distinct values."""
    df = make_df(spark)
    for lq in list_paths():
        out = lq.list(df, M, ListParams(group="secret_col"))
        assert out.count() == 0, lq.name
        assert out.columns == ["option"], lq.name
        # and the options index reflects the whole table: request filters
        # don't narrow it (the reference group path returns before filters)
        out2 = lq.list(df, M, ListParams(group="status", filter={"id": "1"}))
        assert {r.option for r in out2.collect()} == {
            "pending", "in-progress", "done"}, lq.name


def test_eq_filter_native_bool_and_number(spark, list_paths):
    """JS-coercion parity: filter True must match a boolean column
    (data.toString() 'true', not Python's 'True') and integer 1 must
    match a 1.0 double (JS prints integral doubles without '.0')."""
    df = spark.createDataFrame(
        [(1, True, 1.0), (2, False, 1.5), (3, True, 2.0)],
        "id long, flag boolean, v double")
    m = model("t", FieldSpec("id", is_id=True))
    for lq in list_paths():
        got = lq.list(df, m, ListParams(filter={"flag": True}, all=True))
        assert sorted(r.id for r in got.collect()) == [1, 3], lq.name
        got2 = lq.list(df, m, ListParams(filter={"v": 1}, all=True))
        assert [r.id for r in got2.collect()] == [1], lq.name
        # cross-family keeps the loose string coercion: '2' matches long 2
        got3 = lq.list(df, m, ListParams(filter={"id": "2"}, all=True))
        assert [r.id for r in got3.collect()] == [2], lq.name
        assert lq.declined == 0


def test_r6_listquery_guards(spark, list_paths):
    """Round-6 review fixes: secret columns are unprobeable through tag
    search AND equality filters; a None filter value matches NULL rows
    (not the text 'None'); integral doubles render JS-style in search;
    unordered pagination falls back to stable id order. The two searches
    that render a double column as a string are the Arrow evaluator's
    declines: they run on Spark."""
    m = model("things",
              FieldSpec("id", is_id=True),
              FieldSpec("token", secret=True),
              FieldSpec("price"),
              FieldSpec("comment"))
    df = spark.createDataFrame(
        [(1, "s3cret", 10.0, "None"), (2, "other", 10.5, None),
         (3, "s3cret", 7.0, "x")],
        "id long, token string, price double, comment string")

    for lq in list_paths():
        # secret probing: tag search and equality filter both return ZERO
        # rows regardless of whether the guess is right
        assert lq.list(df, m, ListParams(search="token:s3cret")).count() == 0
        assert lq.list(df, m, ListParams(
            filter={"token": "s3cret"})).count() == 0

        # None filter value matches NULL rows, never the literal text 'None'
        got = [r.id for r in lq.list(df, m, ListParams(
            filter={"comment": None})).collect()]
        assert got == [2], lq.name

        # JS number rendering: 'price:10' matches the 10.0 double
        assert [r.id for r in lq.list(df, m, ListParams(
            search="price:10")).collect()] == [1], lq.name
        # free text '10.5' still matches the non-integral double
        assert [r.id for r in lq.list(df, m, ListParams(
            search="10.5")).collect()] == [2], lq.name

        # no default order -> stable id fallback, so pages never overlap
        page0 = [r.id for r in lq.list(df, m, ListParams(
            items_per_page=2)).collect()]
        page1 = [r.id for r in lq.list(df, m, ListParams(
            items_per_page=2, page=1)).collect()]
        assert page0 == [1, 2] and page1 == [3], lq.name
        assert lq.declined == (2 if lq.name == "arrow" else 0)


def test_js_string_rendering_parity_domain(spark):
    """Property-pin of _js_string vs JS Number.prototype.toString()
    (r6 verdict polish item 7): documents exactly where the parity
    guard holds and where it deliberately ends.

    Inside the guard (integral doubles, |x| < 2^63): plain digits,
    byte-equal to JS. Outside it: Spark's cast rendering, which is
    encoded consistently in every oracle — integral doubles in
    [2^63, 1e21) print E-notation where JS prints plain digits (the
    documented, marginal gap), and non-integral values (including
    subnormals) render Java-style on both query and oracle side."""
    import math
    import random

    from servihabitat_etl_spyke_spark.plans.listquery import _js_string

    edge = [0.0, -0.0, 1.0, -1.0, 10.0, 1e15, -1e15,
            2.0 ** 52, 9007199254740992.0,           # 2^53
            9.223372036854775e18,                    # just under 2^63
            0.5, -2.75, 1.5e-10, math.pi,
            5e-324, 2.2250738585072014e-308,         # subnormal/min-normal
            float("nan"), float("inf"), float("-inf"),
            1e20, -1e20, 1e21, 1e22]                 # beyond the guard
    rng = random.Random(20260815)
    rand_integral = [float(rng.randint(-2**62, 2**62)) for _ in range(60)]
    rand_frac = [rng.uniform(-1e6, 1e6) + 0.5 for _ in range(40)]
    vals = edge + rand_integral + rand_frac

    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = [r[0] for r in df.select(_js_string(df, "x")).collect()]
    cast = [r[0] for r in df.select(F.col("x").cast("string")).collect()]

    for v, g, c in zip(vals, got, cast):
        if (not math.isnan(v) and not math.isinf(v)
                and v == math.floor(v) and abs(v) < 2.0 ** 63):
            # parity domain: exactly what JS prints (int(-0.0) is 0,
            # matching JS (-0).toString() === '0')
            assert g == str(int(v)), (v, g)
        else:
            # outside: Spark's own cast, byte-for-byte — the oracles
            # encode this same rendering, so parity with the REFERENCE
            # ends here but query/oracle agreement never does
            assert g == c, (v, g, c)

    # the documented boundary, pinned explicitly: 1e20 is integral and
    # JS would print plain digits, but it exceeds the long-cast guard
    i = vals.index(1e20)
    assert got[i] == "1.0E20" != "100000000000000000000"
