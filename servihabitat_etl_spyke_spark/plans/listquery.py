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
materialization); deep pages fall back to a single shuffle. No step collects
to the driver.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field as dc_field
from typing import Any, Optional

import numbers

from pyspark.sql import Column, DataFrame, functions as F, types as T

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


def _range_predicate(key: str, bounds: dict[str, Any]) -> Column:
    # P2: inclusive bounds; either side optional (ProtoModel.ts:174-185)
    pred = F.lit(True)
    if "from" in bounds and bounds["from"] is not None:
        pred = pred & (F.col(key) >= F.lit(bounds["from"]))
    if "to" in bounds and bounds["to"] is not None:
        pred = pred & (F.col(key) <= F.lit(bounds["to"]))
    return pred


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
