"""The list-query planner: query-string contract -> one DataFrame chain.

This is the engine's equivalent of the reference's generic "AutoAPI" list
endpoint (``GET /api/v1/<model>?search=&filter=&orderBy=&page=&itemsPerPage=``,
reference ``packages/protonode/src/lib/generateApi.ts:204-298`` +
``packages/protobase/src/ProtoModel.ts:171-221``). The reference splits into an
indexed fast path and a row-at-a-time full scan; here both collapse into ONE
declarative plan — Catalyst's predicate pushdown + parquet min/max stats + AQE
make the access-path decision (SURVEY.md §4.1: zero custom rules needed).

Shape: ``table -> filter(P1,P2,P5) -> search(P3,P4) -> select(P6) ->
orderBy(O1) -> paginate(O2,O3)``.

Parity semantics preserved:
- P1 equality filter is string-coerced (``data[key]?.toString() == value``,
  ProtoModel.ts:187) -> compare on ``cast('string')``.
- P2 range filter ``{from,to}`` is inclusive (ProtoModel.ts:174-185).
- P3 tagged search: regex ``(\\w+):("[^"]+"|\\S+)`` (ProtoModel.ts:11), tag
  keys lowercased at parse but matched case-SENSITIVELY against column names
  (ProtoModel.ts:17,198) — i.e. tags only ever hit lowercase-named columns.
  Values compared case-insensitively.
- P4 free-text: case-insensitive substring over every column not marked
  search(false) (ProtoModel.ts:204-217).
- P5 path prefix: ``startswith`` on the path column (eventsSchemas.ts:26-42).
- O3 envelope: ``itemsPerPage`` floor of 1, default 25; ``all=1`` bypass
  (generateApi.ts:196,260).

Scale notes: pagination is ORDER BY + OFFSET/LIMIT — Spark pushes the limit
into a TakeOrderedAndProject when the page is small (no global sort
materialization); deep pages fall back to a single shuffle. No step of the
Spark plan collects to the driver.

Driver-side twin: a relation small enough to be held in the driver as one
Arrow table (``ArrowRelation``, which ``engine.Engine`` holds) is answered
by ``arrow_list_query`` / ``arrow_list_page`` / ``arrow_read`` with
``pyarrow.compute``, and the page comes back as an ``ArrowPage``: a
DataFrame whose ``collect()``, ``count()``, ``schema`` and ``columns``
are answered in Python, with no Spark job, and whose JVM plan (a
LocalRelation of the page) is built only for any other use. Each plan
step but P5 has its Arrow twin beside it, mirroring it step for step:
Spark's null order (nulls first ascending, last descending), NaN above
every number and equal to itself, -0.0 equal to 0.0, binary string
order. A request a twin cannot answer exactly raises ``Declined`` and
the caller runs the Spark plan:

- a string-coerced comparison (P1 across families, P3 tags, P4 free
  text, P12 option search) on a column that is neither string nor
  integral, or a lowercase comparison on a string column holding
  non-ASCII text (Python's and the JVM's case tables may differ);
- a P1 same-family numeric comparison on a float, decimal or unsigned
  column, or with a value that is not a Python int (within long range)
  or float;
- a P2 bound of a different type family than its column (numbers
  against integral or double columns, strings against string columns);
- a P5 path prefix (P5 has no twin: no ``Engine`` request sets one);
- a sort on a column that is not string, integral, floating, boolean,
  date or timestamp; group options on a column that is not string,
  integral, boolean, date or timestamp;
- a point read whose id column is missing or whose projected row holds a
  value outside those types or decimal.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field as dc_field
from typing import Any, Optional

import math
import numbers
from functools import cached_property, reduce

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import (Column, DataFrame, SparkSession, functions as F,
                         types as T)
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame
from pyspark.sql.pandas.types import to_arrow_type

from ..model import Model

# reference parser regex, ProtoModel.ts:11
_TAG_RE = re.compile(r'(\w+):("[^"]+"|\S+)')


def parse_search(search: str) -> tuple[dict[str, str], str]:
    """Split a search string into ({tag_key: value}, residual_free_text).

    Mirrors ``parseSearch`` (ProtoModel.ts:10-29): tag keys lowercased,
    quoted values unquoted, the untagged remainder (whitespace-joined)
    becomes the free-text query.
    """
    tags: dict[str, str] = {}
    residual = search
    for m in _TAG_RE.finditer(search):
        key = m.group(1).lower()
        value = m.group(2)
        if value.startswith('"') and value.endswith('"'):
            value = value[1:-1]
        tags[key] = value
        # replace the FIRST occurrence only (JS String.replace with a
        # string pattern): replace-all would also destroy a matched
        # substring inside a longer not-yet-processed tag ('a:b xa:b'
        # must leave no residue, but replace-all leaves a stray 'x')
        residual = residual.replace(m.group(0), " ", 1)
    free_text = " ".join(residual.split())
    return tags, free_text


@dataclass
class ListParams:
    filter: dict[str, Any] = dc_field(default_factory=dict)
    search: Optional[str] = None
    order_by: Optional[str] = None
    # None = not sent in the request -> the model's declared default wins
    # (``req.query.orderDirection ?? defaultOrderDirection``,
    # generateApi.ts:182); a literal "asc" default here would shadow a
    # model's defaultOrderDirection='desc' (the events newest-first O4)
    order_direction: Optional[str] = None
    page: int = 0
    items_per_page: int = 25
    all: bool = False
    # distinct-group-options mode (?group=<key>), generateApi.ts:212-225
    group: Optional[str] = None
    group_search: Optional[str] = None
    path_prefix: Optional[str] = None     # events path filter, P5
    path_column: str = "path"
    view: str = "list"


class Declined(Exception):
    """The Arrow evaluator cannot answer this request exactly as the Spark
    plan would; the caller runs the Spark plan instead."""


class ArrowPage(ClassicDataFrame):
    """A result evaluated in the driver: a classic DataFrame holding its
    rows as an Arrow table, with their Spark schema.

    ``collect()``, ``count()``, ``schema`` and ``columns`` are answered
    from the table in Python. Every other use goes through the JVM plan
    (``_jdf``), the LocalRelation ``createDataFrame(table, schema)``,
    built once on the first such use, so it behaves as that relation
    does. ``collect()`` gives the rows the LocalRelation's collect
    gives: each column as Spark's internal values, then the schema's
    ``fromInternal``, which is classic collect's own conversion. A
    column whose Arrow type is not the one ``createDataFrame`` sends for
    its Spark type, or whose type has no conversion here, is collected
    by the JVM instead. The JVM is asked nothing else, except for the
    session's ``binaryAsBytes`` when a column holds binary values."""

    def __new__(cls, *args, **kwargs):
        # the classic __new__ calls __init__ with a JVM plan
        return object.__new__(cls)

    def __init__(self, spark: SparkSession, table: pa.Table,
                 schema: T.StructType):
        self._session = spark
        self._sc = spark._sc
        self.is_cached = False
        self._support_repr_html = False
        self._table = table
        self._page_schema = schema

    @cached_property
    def _jdf(self):
        return self._session.createDataFrame(self._table,
                                             self._page_schema)._jdf

    @property
    def schema(self) -> T.StructType:
        return self._page_schema

    @property
    def columns(self) -> list[str]:
        return [f.name for f in self._page_schema.fields]

    def count(self) -> int:
        return self._table.num_rows

    def collect(self) -> list[T.Row]:
        fields = self._page_schema.fields
        if not fields:          # the zip below would drop every row
            return super().collect()
        try:
            cols = [_column_internal(col, f.dataType, self._binary)
                    for col, f in zip(self._table.columns, fields)]
        except Declined:
            return super().collect()
        return [self._page_schema.fromInternal(row) for row in zip(*cols)]

    def _binary(self):
        """Classic collect's binary values: ``bytes``, or ``bytearray``
        when the session sets ``binaryAsBytes`` off."""
        if self._session.conf.get(
                "spark.sql.execution.pyspark.binaryAsBytes",
                "true").lower() == "true":
            return None
        return lambda v: None if v is None else bytearray(v)


@dataclass(frozen=True)
class ArrowRelation:
    """A relation held in the driver: its rows as one Arrow table, and its
    Spark schema, which types the pages cut from it and ``arrow_read``'s
    values."""
    spark: SparkSession
    table: pa.Table
    schema: T.StructType

    def wrap(self, table: pa.Table, fields: list[T.StructField]) -> DataFrame:
        """``table`` as an ``ArrowPage``: its collect is answered in
        Python, with no Spark job."""
        return ArrowPage(self.spark, table, T.StructType(fields))


def _is_string(typ: pa.DataType) -> bool:
    return pa.types.is_string(typ) or pa.types.is_large_string(typ)


def _is_integral(typ: pa.DataType) -> bool:
    return pa.types.is_signed_integer(typ)


def _as_string(col: pa.ChunkedArray) -> pa.ChunkedArray:
    """Twin of ``cast('string')`` for the columns whose cast Arrow renders
    byte for byte as Spark does: strings, and integers (plain digits)."""
    if _is_string(col.type):
        return col
    if _is_integral(col.type):
        return pc.cast(col, pa.string())
    raise Declined(f"string coercion of a {col.type} column")


def _num_cmp(col: pa.ChunkedArray, op: str, value: Any) -> pa.ChunkedArray:
    """Twin of ``col <op> lit(value)`` within the numeric family, for
    integral and double columns: an integral column meets a float as a
    double (Spark widens it), NaN equals NaN and is above every number,
    and -0.0 equals 0.0."""
    typ = col.type
    if (type(value) not in (int, float)
            or not (_is_integral(typ) or pa.types.is_float64(typ))):
        raise Declined(f"numeric comparison of {type(value).__name__} "
                       f"with a {typ} column")
    if type(value) is int:
        if not -2 ** 63 <= value < 2 ** 63:
            raise Declined("integer literal outside long range")
        if _is_integral(typ):
            return getattr(pc, op)(col, pa.scalar(value, pa.int64()))
        value = float(value)
    col = pc.cast(col, pa.float64(), safe=False)
    if math.isnan(value):
        return {"equal": pc.is_nan, "greater_equal": pc.is_nan,
                "less_equal": pc.is_valid}[op](col)
    out = getattr(pc, op)(col, value)
    return pc.or_(out, pc.is_nan(col)) if op == "greater_equal" else out


def _eq_predicate(df: DataFrame, key: str, value: Any) -> Column:
    # P1: string-coerced equality (ProtoModel.ts:186-188). JS coercion
    # differs from Python's str() — true -> 'true', integral numbers
    # print without '.0' — so a same-family comparison runs NATIVELY
    # (bool==bool, number==number): it reproduces the JS outcome exactly
    # (1 matches a 1.0 double; True matches a true boolean, which the
    # Python-side str(True)='True' vs cast 'true' never could) and keeps
    # the predicate pushable to the parquet scan. Cross-family falls back
    # to the cast('string') loose-typing contract.
    dtype = df.schema[key].dataType
    if isinstance(value, bool):
        if isinstance(dtype, T.BooleanType):
            return F.col(key) == F.lit(value)
        return (F.col(key).cast("string")
                == F.lit("true" if value else "false"))
    if isinstance(value, numbers.Number) and isinstance(dtype, T.NumericType):
        return F.col(key) == F.lit(value)
    if isinstance(value, float) and value.is_integer():
        # cross-family float vs string column: JS (1.0).toString() is
        # '1', Python str(1.0) is '1.0' — render integral floats the JS
        # way so the loose-typing contract holds
        return F.col(key).cast("string") == F.lit(str(int(value)))
    return F.col(key).cast("string") == F.lit(str(value))


def _eq_mask(col: pa.ChunkedArray, value: Any) -> pa.ChunkedArray:
    """Arrow twin of ``_eq_predicate``."""
    if isinstance(value, bool):
        if pa.types.is_boolean(col.type):
            return pc.equal(col, value)
        return pc.equal(_as_string(col), "true" if value else "false")
    if isinstance(value, numbers.Number) and (
            pa.types.is_integer(col.type) or pa.types.is_floating(col.type)
            or pa.types.is_decimal(col.type)):
        return _num_cmp(col, "equal", value)
    if isinstance(value, float) and value.is_integer():
        return pc.equal(_as_string(col), str(int(value)))
    return pc.equal(_as_string(col), str(value))


def _js_string(df: DataFrame, key: str) -> Column:
    """Column rendered the way JS ``value.toString()`` renders it: an
    INTEGRAL double prints without the trailing '.0' ((10.0).toString()
    is '10'; Python/Spark cast gives '10.0'), everything else matches
    Spark's cast. The search paths compare against user-typed strings,
    so the column side must render JS-style or numeric columns diverge
    from the reference on integral doubles."""
    dtype = df.schema[key].dataType
    c = F.col(key)
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        return F.when(
            c.isNotNull() & (c == F.floor(c))
            & (F.abs(c) < F.lit(9.223372036854776e18)),
            F.floor(c).cast("long").cast("string")
        ).otherwise(c.cast("string"))
    return c.cast("string")


def _lower_js(col: pa.ChunkedArray) -> pa.ChunkedArray:
    """Arrow twin of ``F.lower(_js_string(...))`` (and of ``F.lower`` of
    a string cast, which is the same on these columns): integers render
    as digits; strings lowercase as the JVM does only while they are
    ASCII."""
    if _is_string(col.type) and not pc.all(pc.string_is_ascii(col),
                                           min_count=0).as_py():
        raise Declined("lowercasing non-ASCII text")
    return pc.ascii_lower(_as_string(col))


def _range_predicate(key: str, bounds: dict[str, Any]) -> Column:
    # P2: inclusive bounds; either side optional (ProtoModel.ts:174-185)
    pred = F.lit(True)
    if "from" in bounds and bounds["from"] is not None:
        pred = pred & (F.col(key) >= F.lit(bounds["from"]))
    if "to" in bounds and bounds["to"] is not None:
        pred = pred & (F.col(key) <= F.lit(bounds["to"]))
    return pred


def _range_filter(table: pa.Table, key: str,
                  bounds: dict[str, Any]) -> pa.Table:
    """Arrow twin of filtering on ``_range_predicate``: a numeric bound on
    an integral or double column, a string bound on a string column
    (binary order, as Spark compares strings)."""
    col = table[key]
    for side, op in (("from", "greater_equal"), ("to", "less_equal")):
        bound = bounds.get(side)
        if bound is None:
            continue
        if isinstance(bound, str) and _is_string(col.type):
            mask = getattr(pc, op)(col, bound)
        elif isinstance(bound, numbers.Number) and not isinstance(bound, bool):
            mask = _num_cmp(col, op, bound)
        else:
            raise Declined(f"range bound {bound!r} on a {col.type} column")
        table = table.filter(mask)
        col = table[key]
    return table


def apply_filters(df: DataFrame, params: ListParams,
                  model: Model | None = None) -> DataFrame:
    if params.path_prefix is not None:
        df = df.filter(F.col(params.path_column).startswith(params.path_prefix))
    for key, value in params.filter.items():
        if key not in df.columns:
            # reference: data[key]?.toString() == value is false for
            # every row when the key doesn't exist (ProtoModel.ts:187)
            # -> ZERO rows, same as the absent-tag-key search path; a
            # silent `continue` would return the whole unfiltered table
            # for a typo'd (or hostile) filter key
            df = df.filter(F.lit(False))
            continue
        if model is not None and _is_secret(model, key):
            # the secret guard must cover EVERY value-probing path, not
            # just free text: an equality filter on a masked column lets
            # a caller binary-search its values out via result counts
            df = df.filter(F.lit(False))
            continue
        if value is None:
            # JS loose contract: data[key]?.toString() == null is true
            # exactly when the value is missing/null (undefined == null);
            # str(None) would instead match the literal text 'None'
            df = df.filter(F.col(key).isNull())
        elif isinstance(value, dict):
            df = df.filter(_range_predicate(key, value))
        else:
            df = df.filter(_eq_predicate(df, key, value))
    return df


def _arrow_filters(table: pa.Table, params: ListParams,
                   model: Model | None = None) -> pa.Table:
    """Arrow twin of ``apply_filters``."""
    if params.path_prefix is not None:
        raise Declined("P5 has no twin: no Engine request sets it")
    for key, value in params.filter.items():
        if key not in table.column_names or (
                model is not None and _is_secret(model, key)):
            table = table.slice(0, 0)
        elif value is None:
            table = table.filter(pc.is_null(table[key]))
        elif isinstance(value, dict):
            table = _range_filter(table, key, value)
        else:
            table = table.filter(_eq_mask(table[key], value))
    return table


def _is_secret(model: Model, key: str) -> bool:
    spec = model.fields.get(key)
    return spec is not None and spec.secret


def apply_search(df: DataFrame, model: Model, search: str) -> DataFrame:
    tags, free_text = parse_search(search)
    # P3: conjunctive case-insensitive equality; tag key must exactly match a
    # column name (case-sensitive containment check, ProtoModel.ts:198)
    for key, value in tags.items():
        if key in df.columns and not _is_secret(model, key):
            # JS-rendered column side (integral doubles print without
            # '.0') so 'price:10' matches a 10.0 double as the
            # reference's toString comparison does
            df = df.filter(
                F.lower(_js_string(df, key)) == F.lit(value.lower()))
        else:
            # reference drops every row when the tag key is absent
            # (data.hasOwnProperty false -> return false); secret keys
            # behave like absent ones — same guard as free text
            df = df.filter(F.lit(False))
    # P4: OR of substring containment over searchable columns
    if free_text:
        cols = model.searchable_columns(df.columns)
        if not cols:
            return df.filter(F.lit(False))
        pred = F.lit(False)
        for c in cols:
            pred = pred | F.lower(_js_string(df, c)).contains(
                free_text.lower())
        df = df.filter(pred)
    return df


def _arrow_search(table: pa.Table, model: Model, search: str) -> pa.Table:
    """Arrow twin of ``apply_search``."""
    tags, free_text = parse_search(search)
    for key, value in tags.items():
        if key in table.column_names and not _is_secret(model, key):
            table = table.filter(pc.equal(_lower_js(table[key]),
                                          value.lower()))
        else:
            table = table.slice(0, 0)
    if free_text:
        cols = model.searchable_columns(table.column_names)
        if not cols:
            return table.slice(0, 0)
        needle = free_text.lower()
        table = table.filter(reduce(pc.or_kleene, (
            pc.match_substring(_lower_js(table[c]), needle) for c in cols)))
    return table


def apply_projection(df: DataFrame, model: Model, view: str) -> DataFrame:
    cols = model.visible_columns(df.columns, view)
    if cols != df.columns:
        df = df.select(*cols)
    return df


def apply_order(df: DataFrame, model: Model, params: ListParams,
                visible: list[str] | None = None) -> DataFrame:
    """Ordering runs BEFORE projection (callers pass the post-projection
    column list as ``visible``): the reference sorts the masked items,
    so a hidden/absent order field is a no-op PRIMARY sort
    (generateApi.ts:183-189 compares undefined-vs-undefined and leaves
    order as-is) — but "as-is" in the reference is a STABLE in-memory
    insertion order, and Spark has no stable order at all: an unordered
    offset/limit page fetch is two separate jobs whose row orders can
    differ, repeating or skipping rows across pages. The id tiebreak is
    the insertion-order analog and must therefore apply even when the
    primary sort is a no-op, and even when the id itself is
    projection-masked (hence pre-projection)."""
    cols = visible if visible is not None else df.columns
    order_by = params.order_by or model.default_order_by
    direction = (params.order_direction or model.default_order_direction
                 or "asc").lower()
    primary = []
    if order_by is not None and order_by in cols:
        col = F.col(order_by)
        primary = [col.desc() if direction == "desc" else col.asc()]
    tiebreak = []
    if model.id_field in df.columns and model.id_field != order_by:
        tiebreak = [F.col(model.id_field).asc()]
    if not primary and not tiebreak:
        return df
    return df.orderBy(*primary, *tiebreak)


def _check_sortable(typ: pa.DataType) -> None:
    if not (_is_string(typ) or _is_integral(typ) or pa.types.is_floating(typ)
            or pa.types.is_boolean(typ) or pa.types.is_date32(typ)
            or pa.types.is_timestamp(typ)):
        raise Declined(f"sort on a {typ} column")


def _sort_indices(keys: list) -> pa.Array:
    """Stable sort indices over ``(array, order)`` keys."""
    names = [f"k{i}" for i in range(len(keys))]
    return pc.sort_indices(
        pa.table([k for k, _ in keys], names=names),
        sort_keys=[(n, o) for n, (_, o) in zip(names, keys)])


def _sort_keys(col: pa.ChunkedArray, order: str) -> list:
    """``col``'s Arrow sort keys in Spark's order for one direction: a
    validity key puts nulls first ascending and last descending, a NaN
    key puts NaN above every number, then the values (Arrow compares
    strings bytewise, as Spark does, and -0.0 equal to 0.0)."""
    _check_sortable(col.type)
    keys = [(pc.is_valid(col), order)]
    if pa.types.is_floating(col.type):
        keys.append((pc.fill_null(pc.is_nan(col), False), order))
    return keys + [(col, order)]


def _arrow_order(table: pa.Table, model: Model, params: ListParams,
                 visible: list[str]) -> pa.Array | None:
    """Arrow twin of ``apply_order``: the row indices in page order, or
    None when the request has no order."""
    order_by = params.order_by or model.default_order_by
    direction = (params.order_direction or model.default_order_direction
                 or "asc").lower()
    keys = []
    if order_by is not None and order_by in visible:
        keys = _sort_keys(table[order_by],
                          "descending" if direction == "desc" else "ascending")
    if model.id_field in table.column_names and model.id_field != order_by:
        keys += _sort_keys(table[model.id_field], "ascending")
    return _sort_indices(keys) if keys else None


def paginate(df: DataFrame, params: ListParams) -> DataFrame:
    if params.all:
        return df
    n = max(1, int(params.items_per_page))      # floor 1, generateApi.ts:260
    page = max(0, int(params.page))
    if page > 0:
        df = df.offset(page * n)
    return df.limit(n)


def group_options(df: DataFrame, key: str, search: str | None = None,
                  limit: int = 100) -> DataFrame:
    """Distinct group values, optional prefix search, capped at ``limit``
    (A5/P12; db.ts:291-309 + generateApi.ts:218-221)."""
    out = df.select(F.col(key).alias("option")).distinct()
    if search:
        out = out.filter(F.lower(F.col("option").cast("string"))
                         .startswith(search.lower()))
    return out.orderBy("option").limit(limit)


def _arrow_group_options(rel: ArrowRelation, key: str,
                         search: str | None = None,
                         limit: int = 100) -> DataFrame:
    """Arrow twin of ``group_options``. Floating columns decline: Spark's
    distinct folds -0.0 into 0.0."""
    col = rel.table[key]
    _check_sortable(col.type)
    if pa.types.is_floating(col.type):
        raise Declined("group options on a floating column")
    opts = col.unique()
    if search:
        opts = opts.filter(pc.starts_with(_lower_js(opts), search.lower()))
    order = _sort_indices(_sort_keys(opts, "ascending"))[:limit]
    f = rel.schema[key]
    return rel.wrap(pa.table({"option": opts.take(order)}),
                    [T.StructField("option", f.dataType, f.nullable)])


def _filtered(df: DataFrame, model: Model, params: ListParams) -> DataFrame:
    """The request's filters, then its free-text search."""
    df = apply_filters(df, params, model)
    if params.search:
        df = apply_search(df, model, params.search)
    return df


def _page(df: DataFrame, model: Model, params: ListParams) -> DataFrame:
    """Order, project, paginate. Order runs BEFORE projection so the
    stable id tiebreak survives masking; the primary sort's visibility
    check uses the post-projection columns."""
    df = apply_order(df, model, params,
                     visible=model.visible_columns(df.columns, params.view))
    return paginate(apply_projection(df, model, params.view), params)


def _arrow_filtered(table: pa.Table, model: Model,
                    params: ListParams) -> pa.Table:
    """Arrow twin of ``_filtered``."""
    table = _arrow_filters(table, params, model)
    if params.search:
        table = _arrow_search(table, model, params.search)
    return table


def _arrow_page(rel: ArrowRelation, table: pa.Table, model: Model,
                params: ListParams) -> DataFrame:
    """Arrow twin of ``_page``: order, project, paginate (only the page's
    rows are taken)."""
    visible = model.visible_columns(table.column_names, params.view)
    rows = _arrow_order(table, model, params, visible)
    if rows is None:
        rows = pa.array(range(table.num_rows), pa.int64())
    if not params.all:
        n = max(1, int(params.items_per_page))
        rows = rows[max(0, int(params.page)) * n:][:n]
    return rel.wrap(table.select(visible).take(rows),
                    [rel.schema[c] for c in visible])


def list_query(df: DataFrame, model: Model, params: ListParams) -> DataFrame:
    """Full list-query plan; returns the page of rows (or group options)."""
    if params.group:
        # parity: options exist only for DECLARED group indexes
        # (db.getGroupIndexOptions finds the key in the groupIndexes
        # index table or returns [], db.ts:291-305) — an undeclared key
        # (e.g. a secret column) must enumerate nothing, and the options
        # index reflects the whole table, so request filters don't apply
        # (generateApi.ts:212-225 returns before the filter path)
        declared = {f.name for f in model.group_indexes()}
        if params.group not in declared or params.group not in df.columns:
            return (df.sparkSession.range(0)
                    .select(F.lit(None).cast("string").alias("option")))
        return group_options(df, params.group, params.group_search)
    return _page(_filtered(df, model, params), model, params)


def arrow_list_query(rel: ArrowRelation, model: Model,
                     params: ListParams) -> DataFrame:
    """``list_query`` evaluated in the driver over a held relation; the
    page is an ``ArrowPage``. Raises ``Declined`` where it cannot match
    the Spark plan exactly."""
    if params.group:
        declared = {f.name for f in model.group_indexes()}
        if (params.group not in declared
                or params.group not in rel.table.column_names):
            return rel.wrap(pa.table({"option": pa.array([], pa.string())}),
                            [T.StructField("option", T.StringType())])
        return _arrow_group_options(rel, params.group, params.group_search)
    return _arrow_page(rel, _arrow_filtered(rel.table, model, params), model,
                       params)


def list_page(df: DataFrame, model: Model, params: ListParams) -> dict[str, Any]:
    """Pagination envelope ``{itemsPerPage, items, total, page, pages}``
    (O3; generateApi.ts:194-201). ``items`` stays a DataFrame — the caller
    decides when to materialize."""
    filtered = _filtered(df, model, params)
    total = filtered.count()
    n = max(1, int(params.items_per_page))
    return {
        "itemsPerPage": n,
        "items": _page(filtered, model, params),
        "total": total,
        "page": params.page,
        "pages": -(-total // n),
    }


def arrow_list_page(rel: ArrowRelation, model: Model,
                    params: ListParams) -> dict[str, Any]:
    """``list_page`` evaluated in the driver over a held relation; raises
    ``Declined`` as ``arrow_list_query`` does."""
    filtered = _arrow_filtered(rel.table, model, params)
    total = filtered.num_rows
    n = max(1, int(params.items_per_page))
    return {
        "itemsPerPage": n,
        "items": _arrow_page(rel, filtered, model, params),
        "total": total,
        "page": params.page,
        "pages": -(-total // n),
    }


def _internal(col: pa.ChunkedArray) -> list:
    """A column's values as Spark's internal Python values (dates as epoch
    days, timestamps as epoch micros) for ``StructType.fromInternal``."""
    typ = col.type
    if pa.types.is_date32(typ):
        col = pc.cast(col, pa.int32())
    elif pa.types.is_timestamp(typ):
        col = pc.cast(pc.cast(col, pa.timestamp("us", typ.tz)), pa.int64())
    elif not (_is_string(typ) or _is_integral(typ)
              or pa.types.is_floating(typ) or pa.types.is_boolean(typ)
              or pa.types.is_decimal(typ)):
        raise Declined(f"reading a {typ} value")
    return col.to_pylist()


#: Spark types whose internal value is the one Arrow's ``to_pylist`` gives
_AS_IS = (T.NullType, T.StringType, T.BooleanType, T.ByteType, T.ShortType,
          T.IntegerType, T.LongType, T.FloatType, T.DoubleType,
          T.DecimalType)


def _to_internal(dtype: T.DataType, binary):
    """The function from a value of a ``dtype`` column as Arrow's
    ``to_pylist`` gives it to Spark's internal value (the one the JVM
    sends to classic collect), or None where the two are the same;
    ``binary()`` gives the one for binary values. Raises ``Declined``
    for a type without one."""
    if isinstance(dtype, _AS_IS):
        return None
    if isinstance(dtype, (T.DateType, T.TimestampType, T.TimestampNTZType)):
        return dtype.toInternal
    if isinstance(dtype, T.BinaryType):
        return binary()
    if isinstance(dtype, T.ArrayType):
        conv = _to_internal(dtype.elementType, binary)
        if conv is None:
            return None
        return lambda v: None if v is None else [conv(x) for x in v]
    if isinstance(dtype, T.MapType) and isinstance(dtype.keyType, (
            *_AS_IS, T.DateType, T.TimestampType, T.TimestampNTZType)):
        key = _to_internal(dtype.keyType, binary) or (lambda k: k)
        val = _to_internal(dtype.valueType, binary) or (lambda x: x)
        return lambda v: None if v is None else {
            key(k): val(x) for k, x in v}
    if isinstance(dtype, T.StructType) and len(set(dtype.names)) == len(
            dtype.names):
        convs = [(f.name, _to_internal(f.dataType, binary) or (lambda x: x))
                 for f in dtype.fields]
        return lambda v: None if v is None else tuple(
            conv(v[name]) for name, conv in convs)
    raise Declined(f"collecting a {dtype.simpleString()} column")


def _column_internal(col: pa.ChunkedArray, dtype: T.DataType,
                     binary) -> list:
    """A page column's values as Spark's internal values, where its Arrow
    type is the one ``createDataFrame`` sends for ``dtype`` (up to large
    string and binary offsets); raises ``Declined`` otherwise."""
    conv = _to_internal(dtype, binary)
    if col.type not in (to_arrow_type(dtype),
                        to_arrow_type(dtype, prefers_large_types=True)):
        raise Declined(f"a {col.type} column typed {dtype.simpleString()}")
    if isinstance(dtype, (T.DateType, T.TimestampType, T.TimestampNTZType)):
        return _internal(col)
    values = col.to_pylist()
    return values if conv is None else [conv(v) for v in values]


def arrow_read(rel: ArrowRelation, model: Model, item_id: Any,
               view: str = "read") -> dict[str, Any] | None:
    """The first row whose id matches ``item_id`` by ``_eq_predicate``,
    projected to ``view`` as a dict equal to Spark's ``Row.asDict()``, or
    None; raises ``Declined`` as ``arrow_list_query`` does."""
    if model.id_field not in rel.table.column_names:
        raise Declined("point read without an id column")
    cols = model.visible_columns(rel.table.column_names, view)
    hit = rel.table.filter(_eq_mask(rel.table[model.id_field], item_id))
    hit = hit.select(cols).slice(0, 1)
    if hit.num_rows == 0:
        return None
    schema = T.StructType([rel.schema[c] for c in cols])
    return schema.fromInternal(
        tuple(_internal(hit[c])[0] for c in cols)).asDict()
