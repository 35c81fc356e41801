"""Engine facade: the one object a user of the reference system would hold.

The reference exposes its capabilities as HTTP endpoints per model
(`packages/protonode/src/lib/generateApi.ts` mounts list/read/create/...
per declared model). This facade is the PySpark-native equivalent surface:
register models, run list queries with the same query-string contract, run
SQL over every table, run any named query from the registry, and reach the
ETL / streaming entry points — all over one SparkSession.

    eng = Engine.local(sf_dir="/root/testdata/sf0.01")
    page = eng.list("orders", filter={"o_orderstatus": "F"},
                    order_by="o_totalprice", order_direction="desc",
                    items_per_page=25, page=0)
    df   = eng.sql("SELECT count(*) FROM lineitem")
    out  = eng.run("dedup_minhash_lsh")
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.types import _create_converter, _make_type_verifier

from .catalog import TABLES, load_table, table_path
from .model import Model
from .plans.listquery import (ArrowPage, Declined, ListParams,
                              arrow_list_page, arrow_list_query, arrow_read,
                              list_page, list_query)
from .session import get_spark
from .sources.sheets import (arrow_relation, arrow_table, sheet_rows,
                             sheet_upsert, string_schema)

#: The most driver memory one parquet table may take as Arrow
#: (``pa.Table.nbytes``) and still be held for ``list``, ``page`` and
#: ``read``; a larger table is answered by Spark. Measured on one pinned
#: vCPU with ``local[1]``: at 44.6 MB (sf0.1 ``lineitem``, 600k rows) a
#: filtered, sorted page took 171 ms in the driver against 497 ms on
#: Spark and a point read 2.4 ms against 123 ms; at 89 MB (the same rows
#: twice) the driver still won, 513 ms against 836 ms, but by less, and
#: the one hold took 5.2 s. The cap lies between the two.
HOLD_MAX_BYTES = 64 * 2**20


def _session_views(spark: SparkSession) -> dict[str, DataFrame]:
    """SQL temp view name -> the relation it was registered from. Temp
    views are global to a session, so the registry is an attribute of
    the SparkSession, shared by every Engine on it (each sees when
    another replaced a view), and lives as long as the session."""
    views = getattr(spark, "_engine_views", None)
    if views is None:
        views = spark._engine_views = {}
    return views


def _internal_rows(rows, schema: T.StructType) -> list[tuple]:
    """Validate and convert rows exactly as ``createDataFrame(list,
    schema)`` does — the same type verifier (a mistyped value is a
    TypeError), the same name-to-position converter for dicts and Rows,
    the same ``toInternal`` (timestamps become epoch micros) — so an
    Arrow-built relation stores the values the list path would."""
    verify = _make_type_verifier(schema)
    convert = _create_converter(schema)
    out = []
    for row in rows:
        verify(row)
        out.append(schema.toInternal(convert(row)))
    return out


def _stamp(path: str) -> tuple:
    """What a held parquet table is keyed by: ``(ino, size, mtime_ns)`` of
    the path and, for a directory table, of every entry under it (part
    files and partition subdirectories alike). FileNotFoundError when the
    path does not exist."""
    def one(p):
        st = os.stat(p)
        return p, st.st_ino, st.st_size, st.st_mtime_ns
    out = [one(path)]
    if os.path.isdir(path):
        for root, dirs, files in os.walk(path):
            out.extend(one(os.path.join(root, n)) for n in dirs + files)
    return tuple(sorted(out))


@dataclass
class _Held:
    """A parquet table resolved once: the ``_stamp`` it is keyed by, its
    DataFrame and, once a list, page or read asks for it, its rows in the
    driver (False when the table is over ``HOLD_MAX_BYTES``)."""
    stamp: tuple
    df: DataFrame
    rel: ArrowPage | bool | None = None


class Engine:
    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark = spark
        self.sf_dir = sf_dir
        self._models: dict[str, Model] = {}
        # runtime-declared tables (create_model): name -> DataFrame; for
        # a row-held model its rows as an ArrowPage, or None until the
        # first request after a write. Shadows same-named parquet —
        # latest declaration wins, like the reference's put handler
        # overwriting an existing object schema.
        self._runtime_tables: dict[str, DataFrame | None] = {}
        # runtime models declared from rows (a list, a sheet's header +
        # rows, or nothing): name -> (schema, internal rows), the store
        # that put/delete update in the driver
        self._rows: dict[str, tuple[T.StructType, list[tuple]]] = {}
        # storage backend per runtime model (objectsAPI.ts:169 analog)
        self._storage: dict[str, str] = {}
        # named parameterized automations (UD1, protolib automations)
        self._automations: dict = {}
        # parquet tables resolved once, filled lazily by table()
        self._held: dict[str, _Held] = {}
        self._views = _session_views(spark)

    @classmethod
    def local(cls, sf_dir: str, cpus: int | None = None) -> "Engine":
        eng = cls(get_spark(cpus=cpus), sf_dir)
        eng.register_default_models()
        return eng

    # -- catalog ------------------------------------------------------------

    def register_model(self, model: Model) -> None:
        """Runtime DDL analog (objects bundle, objectsAPI.ts:133-193): a new
        model becomes queryable immediately — no codegen, just metadata."""
        self._models[model.name] = model

    def create_model(self, spec, data: list | DataFrame | None = None,
                     bind_to: str | None = None,
                     storage: str = "native") -> Model:
        """CREATE TABLE from a JSON object description — the full `objects`
        bundle lifecycle (reference ``objectsAPI.ts:133-193`` accepts the
        description, codegens a zod schema, and provisions a CRUD store;
        ``objectsSchemas.ts:11-20,63-78`` define the description format).

        Here the description compiles straight to FieldSpec metadata + a
        Spark StructType (model.model_from_json_description) and the model is
        immediately list()/page()/sql()-queryable:

        - ``data=None``: an empty table with the declared schema (the
          reference's fresh LevelDB store).
        - ``data=[rows]`` or a DataFrame: initial-data bootstrap
          (S12 semantics) — rows are validated against the declared schema.
        - ``bind_to='orders'``: the declared metadata governs an EXISTING
          parquet table (rename-free ALTER: new annotations, same data);
          the description's keys select/serve as the visible columns.
        - ``storage``: the reference lets a runtime object pick its store
          (``objectsAPI.ts:169`` — LevelDB, custom, or Google Sheets).
          ``'native'`` is the typed DataFrame store; ``'sheet'`` applies
          sheet semantics (sources/sheets.py): every column is STRING (a
          sheet has no types), bootstrap accepts header+rows lists via
          ``sheet_from_rows`` (short rows pad, extra cells drop), and
          ``put()`` is the same keyed update-else-append over string
          values. The declared keys still govern list-view
          masking / search / paging — the string-coerced list-query
          contract (P1) is storage-agnostic.
        """
        m = Model.from_json_description(spec)
        if storage not in ("native", "sheet"):
            raise ValueError(f"unknown storage: {storage!r}")
        if storage == "sheet":
            if bind_to is not None:
                raise ValueError("sheet storage keeps its own rows; "
                                 "bind_to applies to native storage")
            from pyspark.sql import functions as F
            declared = list(m.fields)
            if isinstance(data, DataFrame):
                if set(data.columns) != set(declared):
                    raise ValueError(
                        f"sheet bootstrap columns {sorted(data.columns)} "
                        f"!= declared keys {sorted(declared)}")
                self._store(m.name, data.select(
                    [F.col(c).cast("string").alias(c) for c in declared]))
            else:
                # header + rows, the getSpreadSheetElements shape
                header, rows = sheet_rows(data) if data else (declared, [])
                if set(header) != set(declared):
                    raise ValueError(
                        f"sheet header {header} != declared keys "
                        f"{sorted(declared)}")
                pos = [header.index(c) for c in declared]
                self._store(m.name, rows=(
                    string_schema(declared),
                    [tuple(r[i] for i in pos) for r in rows]))
            self._storage[m.name] = "sheet"
            self.register_model(m)
            return m
        if bind_to is not None:
            df = load_table(self.spark, self.sf_dir, bind_to)
            missing = [f for f in m.fields if f not in df.columns]
            if missing:
                raise ValueError(
                    f"bind_to={bind_to!r} lacks declared keys {missing}")
            self._store(m.name, df.select(*m.fields))
        elif isinstance(data, DataFrame):
            declared = set(m.fields)
            if set(data.columns) != declared:
                raise ValueError(
                    f"bootstrap DataFrame columns {sorted(data.columns)} != "
                    f"declared keys {sorted(declared)}")
            # validate TYPES too, not just names — storing e.g. a string
            # gid under a declared long would silently send numeric
            # filters down the cross-family string path and sort
            # lexicographically ('10' < '2'); the list-of-rows branch
            # already enforces the schema via the type verifier
            got = {f.name: f.dataType for f in data.schema.fields}
            for f in m.schema.fields:
                if got[f.name] != f.dataType:
                    raise ValueError(
                        f"bootstrap column {f.name!r} is {got[f.name]}, "
                        f"declared {f.dataType}; cast it before create_model")
            self._store(m.name, data.select(*m.fields))
        else:
            self._store(m.name, rows=(
                m.schema, _internal_rows(data or [], m.schema)))
        self.register_model(m)
        return m

    def _store(self, name: str, df: DataFrame | None = None,
               rows: tuple[T.StructType, list[tuple]] | None = None) -> None:
        """Set a runtime model's store: a DataFrame (bind_to, DataFrame
        bootstrap), or (schema, internal rows) held in the driver."""
        self._runtime_tables[name] = df
        if rows is None:
            self._rows.pop(name, None)
        else:
            self._rows[name] = rows

    def register_default_models(self) -> None:
        from .queries import CUSTOMER, DOCUMENTS, EVENTS, ORDERS
        for m in (ORDERS, CUSTOMER, DOCUMENTS, EVENTS):
            self.register_model(m)

    def put(self, model_name: str,
            rows: list[dict] | DataFrame) -> None:
        """Keyed update-else-append into a runtime model's store (the S6
        point upsert / S9 sheet put, batched): rows whose id exists are
        replaced in place, new ids append, and a duplicate id within one
        batch keeps its LAST row (the reference's sequential db.put loop).
        A null id matches no stored row, so null-id rows are only appended.
        Sheet-backed models coerce every value to string first (sheet
        semantics). DataFrame input is cast to the model's column types
        and collected, so a batch is always rows in the driver.

        A model declared from rows keeps them in the driver: the replace
        runs there and no Spark job runs, so a write costs the same
        whether or not a list follows it; the next request holds the new
        rows as one ``ArrowPage``. A ``bind_to`` or
        DataFrame-declared model stays lazy: the write is the
        ``sheet_upsert`` anti-join union over its current plan, which
        grows by one level per write."""
        if model_name not in self._runtime_tables:
            raise KeyError(f"{model_name!r} is not a runtime model")
        m = self._models[model_name]
        held = self._rows.get(model_name)
        schema = held[0] if held else self._runtime_tables[model_name].schema
        cols = schema.names
        if isinstance(rows, DataFrame):
            from pyspark.sql import functions as F
            rows = rows.select([F.col(c).cast(schema[c].dataType).alias(c)
                                for c in cols]).collect()
        elif self._storage.get(model_name) == "sheet":
            # None -> '' (an EMPTY cell), never the text 'None' — the same
            # null contract SheetTransport.put documents for the wire path
            rows = [tuple("" if r[c] is None else str(r[c]) for c in cols)
                    for r in rows]
        else:
            rows = [tuple(r[c] for c in cols) for r in rows]
        # every row is validated before the last-wins pass drops any
        key = cols.index(m.id_field)
        last = {r[key]: r for r in _internal_rows(rows, schema)}
        if held is None:
            upd = arrow_relation(self.spark, list(last.values()), schema)
            self._runtime_tables[model_name] = sheet_upsert(
                self._runtime_tables[model_name], upd, m.id_field)
            return
        kept = [r for r in held[1] if r[key] is None or r[key] not in last]
        self._store(model_name, rows=(schema, kept + list(last.values())))

    def read(self, model_name: str, item_id, view: str = "read") -> dict | None:
        """Point read by id (the AutoAPI GET-one endpoint): one row as a
        dict with the model's view masking applied, or None. Ids compare
        via the SAME predicate as the list-query P1 contract
        (listquery._eq_predicate) — a bare str() coercion diverged on
        numeric/boolean ids (read('g', 1) missed a double id the list
        filter matched: '1' vs cast-string '1.0').

        Over a relation held in the driver (``_relation``) the read is
        evaluated in the driver when called, over that snapshot, with no
        Spark job: the row is collected as a one-row ``ArrowPage``, by
        the conversion a held page's ``collect()`` uses
        (``listquery.arrow_read``). A relation without the id column is
        read on Spark."""
        from .plans.listquery import _eq_predicate
        m = self._models[model_name]

        def on_spark(df):
            cols = m.visible_columns(df.columns, view)
            row = (df.filter(_eq_predicate(df, m.id_field, item_id))
                   .select(*cols).limit(1).collect())
            return row[0].asDict() if row else None

        return self._answer(model_name,
                            lambda rel: arrow_read(rel, m, item_id, view),
                            on_spark)

    def delete(self, model_name: str, item_ids: list) -> None:
        """Keyed delete from a runtime model's store (the AutoAPI DELETE
        endpoint; the reference's cascade hooks are the flow callbacks —
        compose them before calling): drops the rows whose id, cast to
        string by Spark, is ``str()`` of a listed id. Like ``put``, a
        row-held model is filtered in the driver (a string or integral id
        casts as ``str()`` does; any other id type has Spark cast the held
        ids first) and any other model gets a lazy filter."""
        from pyspark.sql import functions as F
        if model_name not in self._runtime_tables:
            raise KeyError(f"{model_name!r} is not a runtime model")
        m = self._models[model_name]
        gone = {str(i) for i in item_ids}
        idc = F.col(m.id_field).cast("string")
        held = self._rows.get(model_name)
        if held is None:
            # NULL-id rows must survive: ~isin(...) is NULL (not true) for
            # a NULL id and filter drops NULL predicates, so deleting one
            # key would silently destroy every null-id row
            self._runtime_tables[model_name] = self._runtime_tables[
                model_name].filter(idc.isNull() | ~idc.isin(list(gone)))
            return
        schema, rows = held
        key = schema.names.index(m.id_field)
        if isinstance(schema[key].dataType, (T.StringType, T.IntegralType)):
            ids = [None if r[key] is None else str(r[key]) for r in rows]
        else:
            # a local relation keeps its row order through a projection
            ids = [r[0] for r in self.table(model_name).select(idc)
                   .collect()]
        self._store(model_name, rows=(schema, [
            r for r, i in zip(rows, ids) if i is None or i not in gone]))

    def model(self, name: str) -> Model:
        return self._models[name]

    def table(self, name: str) -> DataFrame:
        """The relation the Engine holds for ``name``: the runtime model's
        current version, else the parquet table, resolved once.

        A row-held runtime model is its ``_relation``: the ``ArrowPage``
        that ``list``, ``page`` and ``read`` evaluate, built on the first
        request after a write and returned until the next one. Its
        ``collect()`` and ``count()`` are answered in Python; its JVM
        plan, a LocalRelation of the rows, is built on the first other
        use.

        A parquet table is loaded on first use and held, keyed by the
        inode, size and mtime of its path and, for a directory table, of
        every file and subdirectory under it (``_stamp``); it is loaded
        again only when that key changes. A Spark ``mode("overwrite")``,
        an append into a partition directory and a rewritten single file
        all change it. A same-size rewrite in place within one mtime tick
        does not: a writer that rewrites files in place should swap the
        table in instead (``etl.overwrite_via_tmp``). A missing path is
        not held: the load raises Spark's PATH_NOT_FOUND as before."""
        if name in self._rows:
            return self._relation(name)
        if name in self._runtime_tables:
            return self._runtime_tables[name]
        df = self._parquet(name)
        if df is None:
            return load_table(self.spark, self.sf_dir, name)
        return df

    def _hold(self, name: str) -> _Held | None:
        """The held parquet table for ``name``; None when its path does
        not exist."""
        try:
            key = _stamp(table_path(self.sf_dir, name))
        except FileNotFoundError:
            self._held.pop(name, None)
            return None
        held = self._held.get(name)
        if held is None or held.stamp != key:
            held = _Held(key, load_table(self.spark, self.sf_dir, name))
            self._held[name] = held
        return held

    def _parquet(self, name: str) -> DataFrame | None:
        """The held parquet relation for ``name``; None when its path
        does not exist."""
        held = self._hold(name)
        return None if held is None else held.df

    def _relation(self, name: str) -> ArrowPage | None:
        """The ``ArrowPage`` of the rows ``name`` holds in the driver, for
        ``list``, ``page`` and ``read``; None sends the request to Spark.

        A row-held runtime model always has one (its rows live in the
        driver), built from its rows on the first request after a write.
        A ``bind_to`` or DataFrame-declared model never does. A
        parquet table has one when it takes at most ``HOLD_MAX_BYTES`` as
        Arrow: the held DataFrame is collected with ``toArrow()`` on the
        first request, one Spark job, and kept under the same ``_stamp``
        key, so a rewrite reloads both. A parquet file is encoded and
        compressed, so its size on disk is mostly below its Arrow size
        (2.6-6.1x below for the sf0.1 TPC-H and events tables, 1.4x above
        for the float vectors of ``embeddings``): a table over the cap on
        disk is never collected. One collected and found over the cap is
        dropped and runs on Spark until it is rewritten. The rows stay
        held as long as the Engine; every Engine holds its own."""
        if name in self._runtime_tables:
            if name not in self._rows:
                return None
            page = self._runtime_tables[name]
            if page is None:
                schema, rows = self._rows[name]
                page = ArrowPage(self.spark, arrow_table(rows, schema), schema)
                self._runtime_tables[name] = page
            return page
        held = self._hold(name)
        if held is None:
            return None
        if held.rel is None:
            held.rel = False
            if sum(size for _, _, size, _ in held.stamp) <= HOLD_MAX_BYTES:
                table = held.df.toArrow()
                if table.nbytes <= HOLD_MAX_BYTES:
                    held.rel = ArrowPage(self.spark, table, held.df.schema)
        return held.rel or None

    def _answer(self, name: str, on_arrow, on_spark):
        """``on_arrow`` over the rows ``name`` holds in the driver; else,
        or where it raises ``Declined``, ``on_spark`` over ``table()``."""
        rel = self._relation(name)
        if rel is not None:
            try:
                return on_arrow(rel)
            except Declined:
                pass
        return on_spark(self.table(name))

    # -- query surfaces -----------------------------------------------------

    @staticmethod
    def _params(*, filter: dict[str, Any] | None = None, search: str = "",
                group: str | None = None, group_search: str | None = None,
                order_by: str | None = None,
                order_direction: str | None = None,
                page: int = 0, items_per_page: int = 25,
                all_rows: bool = False, view: str = "list") -> ListParams:
        return ListParams(
            filter=filter or {}, search=search, group=group,
            group_search=group_search, order_by=order_by,
            order_direction=order_direction, page=page,
            items_per_page=items_per_page, all=all_rows, view=view)

    def list(self, model_name: str, *, filter: dict[str, Any] | None = None,
             search: str = "", group: str | None = None,
             group_search: str | None = None, order_by: str | None = None,
             order_direction: str | None = None, page: int = 0,
             items_per_page: int = 25, all_rows: bool = False,
             view: str = "list") -> DataFrame:
        """The AutoAPI list endpoint (§3.1 lifecycle) as one call.

        ``order_direction=None`` (not 'asc') so a model's declared
        default_order_direction wins when the caller doesn't specify —
        a literal 'asc' here would shadow EVENTS' newest-first default,
        the exact trap listquery.ListParams documents.

        Over a relation held in the driver (``_relation``) the list is
        evaluated when called, over that snapshot, and the page comes
        back as a ``listquery.ArrowPage``: a DataFrame whose
        ``collect()`` and ``count()`` are answered in Python, with no
        Spark job (``listquery.arrow_list_query``). A request the
        driver-side evaluator declines, and every other relation, gets
        the lazy Spark plan."""
        params = self._params(
            filter=filter, search=search, group=group,
            group_search=group_search, order_by=order_by,
            order_direction=order_direction, page=page,
            items_per_page=items_per_page, all_rows=all_rows, view=view)
        m = self.model(model_name)
        return self._answer(model_name,
                            lambda rel: arrow_list_query(rel, m, params),
                            lambda df: list_query(df, m, params))

    def page(self, model_name: str, *, filter: dict[str, Any] | None = None,
             search: str = "", order_by: str | None = None,
             order_direction: str | None = None, page: int = 0,
             items_per_page: int = 25, all_rows: bool = False,
             view: str = "list") -> dict[str, Any]:
        """list() plus the pagination envelope
        {itemsPerPage, items, total, page, pages}. Same explicit keywords
        as list() — a misspelled parameter is a TypeError, never silently
        the default. A held relation is evaluated as in list(): the total
        and the page come from one snapshot, with no Spark job, and the
        page's ``collect()`` is answered in Python."""
        params = self._params(
            filter=filter, search=search, order_by=order_by,
            order_direction=order_direction, page=page,
            items_per_page=items_per_page, all_rows=all_rows, view=view)
        m = self.model(model_name)
        return self._answer(model_name,
                            lambda rel: arrow_list_page(rel, m, params),
                            lambda df: list_page(df, m, params))

    def sql(self, statement: str) -> DataFrame:
        """ANSI SQL over the standard tables AND every registered model,
        served from the relations ``table()`` holds: a view is registered
        again only when its relation changed (a write, a re-declaration,
        a rewritten parquet table, a backing file that appeared), so SQL
        sees what ``list`` sees. A name with no backing file yet has no
        view.

        Only the names the statement contains as a whole word, in any
        case (so a backquoted name counts), are resolved and registered:
        a statement reaches a view only by naming it, so a write to a
        model the statement does not name costs it nothing. A view that
        an earlier statement created over an Engine view reads that view
        as it was last registered.

        A runtime model declared from rows, whose rows sit in the driver,
        and a parquet table that Spark reads as at most one partition,
        which is every small table on ``local[1]``, are registered as
        ``coalesce(1)``. The view's output partitioning is then a single
        partition, which already satisfies every distribution an
        aggregate, a sort, a window or a sort-merge join requires, so SQL
        over it plans no exchange and runs as one stage. A parquet
        table's partition count comes from Spark's own plan of the
        relation, once per registration. A parquet table read as more
        than one partition, and a ``bind_to`` or DataFrame-declared model
        (a lazy plan, whose partitions AQE would have to run upstream
        stages to count), keeps its plan."""
        for name in dict.fromkeys((*TABLES, *self._models)):
            if not re.search(rf"(?<!\w){re.escape(name)}(?!\w)", statement,
                             re.IGNORECASE):
                continue
            runtime = name in self._runtime_tables
            df = self.table(name) if runtime else self._parquet(name)
            if df is not None and self._views.get(name) is not df:
                one = (name in self._rows if runtime
                       else df._jdf.rdd().getNumPartitions() <= 1)
                (df.coalesce(1) if one else df).createOrReplaceTempView(name)
                self._views[name] = df
        return self.spark.sql(statement)

    def register_automation(self, name: str, fn) -> None:
        """UD1: a named automation — any callable (spark, sf_dir,
        **params) -> DataFrame. The reference's automations bundle
        registers named flows invocable with a params object
        (protolib automations); here they live beside the query
        registry and shadow same-named registry queries."""
        self._automations[name] = fn

    def run(self, query_name: str, **params) -> DataFrame:
        """Run a named automation or registry query (UD1). ``params``
        pass through to the callable — registry queries take none;
        registered automations take whatever they declared (a wrong
        name is a TypeError, never silently dropped)."""
        from .queries import QUERIES
        fn = self._automations.get(query_name) or QUERIES[query_name]
        return fn(self.spark, self.sf_dir, **params)

    def queries(self) -> list[str]:
        from .queries import QUERIES
        return sorted(set(QUERIES) | set(self._automations))
