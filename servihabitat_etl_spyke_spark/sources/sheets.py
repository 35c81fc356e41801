"""S8/S9: sheet-style row store — first row is the header, every other row
zips against it; writes are keyed update-else-append.

The reference reads range ``A:Z`` and zips header+rows into objects
(``googleSheetClient.ts:122-145``), padding missing trailing cells to
``''``; its ``put`` finds the row by id and updates in place, else appends
(``:198-238``). Spark-first: a sheet is a small dimension — ingest via
``createDataFrame`` (or CSV-with-header for file-backed sheets) and
broadcast it into joins; the keyed put is the same anti-join upsert the
DynamoDB sink uses.
"""

from __future__ import annotations

from typing import Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type


def string_schema(columns: Sequence[str]) -> T.StructType:
    """Every column STRING: a sheet has no types."""
    return T.StructType([T.StructField(c, T.StringType()) for c in columns])


def arrow_table(rows: Sequence[tuple], schema: T.StructType) -> pa.Table:
    """Rows of internal values (strings as-is; dates as epoch days and
    timestamps as epoch micros, what ``StructType.toInternal`` gives) as
    one Arrow table typed by ``schema``."""
    cols = list(zip(*rows)) or [()] * len(schema.fields)
    return pa.Table.from_arrays(
        [pa.array(c, type=to_arrow_type(f.dataType))
         for c, f in zip(cols, schema.fields)], names=schema.names)


def arrow_relation(spark: SparkSession, rows: Sequence[tuple],
                   schema: T.StructType) -> DataFrame:
    """``arrow_table`` as an Arrow-backed local relation: a LocalRelation
    plan with no pickled Python RDD behind it, so querying it never
    starts a Python worker."""
    return spark.createDataFrame(arrow_table(rows, schema), schema=schema)


def sheet_rows(rows: Sequence[Sequence[str]]
               ) -> tuple[list[str], list[tuple[str, ...]]]:
    """Split ``rows[0]`` (header) from the remaining rows.

    Mirrors getSpreadSheetElements: short rows pad with ``''``, extra cells
    beyond the header are dropped, and every value stays a string (sheets
    have no types). Header names pass through sanitize (strip whitespace),
    matching the objects bundle's key hygiene (objectsSchemas.ts:64-77).
    """
    if not rows:
        raise ValueError("sheet needs at least a header row")
    # remove ALL whitespace, not just edges — model keys sanitize with
    # re.sub(r"\s","") (objectsAPI name.replace(/\s/g,'')), and a header
    # like 'first name' must land on the same 'firstname' the declared
    # key compiles to or the bootstrap set-comparison rejects it
    import re as _re
    header = [_re.sub(r"\s", "", str(h)) for h in rows[0]]
    # whitespace-stripping can collide two DISTINCT raw headers ('first
    # name' and 'firstname') into one name — that would emit a
    # duplicate-column DDL string and fail deep inside Spark analysis;
    # raise here naming the colliding raw headers instead (mirrors the
    # model_from_json_description guard)
    seen: dict = {}
    for raw, h in zip(rows[0], header):
        if h in seen and seen[h] != raw:
            raise ValueError(
                f"sheet header collision: {seen[h]!r} and {raw!r} both "
                f"sanitize to {h!r}")
        seen.setdefault(h, raw)
    if len(set(header)) != len(header):
        raise ValueError(f"duplicate sheet header names: {header}")
    n = len(header)
    return header, [tuple((list(map(str, r)) + [""] * n)[:n])
                    for r in rows[1:]]


def sheet_from_rows(spark: SparkSession,
                    rows: Sequence[Sequence[str]]) -> DataFrame:
    """``sheet_rows`` as an all-string Arrow-backed relation."""
    header, data = sheet_rows(rows)
    return arrow_relation(spark, data, string_schema(header))


def read_sheet(spark: SparkSession, path: str) -> DataFrame:
    """File-backed sheet: CSV with a header row, all columns string-typed
    (no inference — sheet semantics are untyped)."""
    return (spark.read.option("header", "true")
            .option("inferSchema", "false").csv(path))


def sheet_upsert(sheet: DataFrame, updates: DataFrame,
                 key: str) -> DataFrame:
    """S9 keyed put, batched: rows whose key exists are replaced in place,
    new keys are appended — new-version-wins anti-join union (same shape
    as the DynamoDB S6 upsert; with Delta this is one MERGE INTO)."""
    kept = sheet.join(updates.select(key), on=key, how="left_anti")
    return kept.unionByName(updates.select(sheet.columns))


def sheet_append_if_missing(sheet: DataFrame, rows: DataFrame,
                            key: str) -> DataFrame:
    """Insert-only variant: existing keys keep their current row."""
    fresh = rows.join(sheet.select(key), on=key, how="left_anti")
    return sheet.unionByName(fresh.select(sheet.columns))


class SheetTransport:
    """S9 transport shape: the reference client's exact call sequence
    (``googleSheetClient.ts:88-238``) against an injected values-API
    ``client`` — an object with ``get(range) -> list[list[str]]``,
    ``update(range, values)``, ``append(range, values)`` and
    ``delete_rows(start, end)`` (the four spreadsheets.values /
    batchUpdate calls a googleapis adapter implements; tests inject an
    in-memory fake — no network in this environment).

    Reproduced behaviors, not improved:

    - ``find_element``: scan ``A:Z``, match the id column with string
      equality, return the A1 address of the ID CELL (column letter of
      the id field, row index + 2 — header is row 1).
    - ``put``: update-in-place writes the WHOLE row starting at that id
      cell (when the id field is not column A the tail of the row lands
      shifted — the reference's behavior, kept verbatim and documented);
      unknown keys append, bootstrapping the header row first when the
      sheet is empty. The update range is the BARE cell address, exactly
      as the reference sends it — against a real API that resolves to
      the spreadsheet's FIRST sheet, consistent with the reference's
      single-sheet assumption (its delete hardcodes ``sheetId: 0`` the
      same way); a multi-sheet adapter should qualify ranges itself.
      A ``None`` field serializes to ``''`` (the JS client sends null →
      an empty cell), never the string ``'None'``.
    - ``delete_id``: deleteDimension of the found row — the row
      disappears entirely, no blank left behind.
    """

    def __init__(self, client, sheet_name: str, id_field: str,
                 obj_fields: list[str]):
        self.client = client
        self.sheet_name = sheet_name
        self.id_field = id_field
        self.obj_fields = list(obj_fields)

    def _all_rows(self) -> list[list[str]]:
        return self.client.get(f"{self.sheet_name}!A:Z") or []

    def is_empty(self) -> bool:
        rows = self.client.get(f"{self.sheet_name}!A1:Z1") or []
        return (not rows or (len(rows) == 1 and not rows[0]))

    def find_element(self, key) -> str | None:
        rows = self._all_rows()
        if not rows:
            return None
        header, body = rows[0], rows[1:]
        if self.id_field not in header:
            return None
        pos = header.index(self.id_field)
        for i, row in enumerate(body):
            if pos < len(row) and str(row[pos]) == str(key):
                return f"{chr(65 + pos)}{i + 2}"
        return None

    def get_elements(self) -> list[dict]:
        rows = self._all_rows()
        if not rows:
            return []
        header, body = rows[0], rows[1:]
        return [{k: (r[i] if i < len(r) else "")
                 for i, k in enumerate(header)} for r in body]

    def get(self, key) -> dict | None:
        for el in self.get_elements():
            if str(el.get(self.id_field)) == str(key):
                return el
        return None

    def put(self, values: dict) -> None:
        key = values.get(self.id_field)
        cols = [["" if values.get(f) is None else str(values[f])
                 for f in self.obj_fields]]
        cell = self.find_element(key)
        if cell:
            self.client.update(cell, cols)
        else:
            if self.is_empty():
                self.client.append(f"{self.sheet_name}!A:Z",
                                   [list(self.obj_fields)])
            self.client.append(f"{self.sheet_name}!A:Z", cols)

    def delete_id(self, key) -> None:
        cell = self.find_element(key)
        if cell:
            row = int(cell[1:])
            self.client.delete_rows(row - 1, row)


def sheet_batch_put(df: DataFrame, client_factory, sheet_name: str,
                    id_field: str, obj_fields: list[str],
                    parallelism: int = 1) -> None:
    """Distributed S9 sink over the transport shape: every partition
    drives its rows through :class:`SheetTransport.put` — the
    reference's sequential per-object loop, parallelized the only way a
    row-at-a-time keyed API can be. ``client_factory`` must be
    picklable and construct the client INSIDE the executor (connections
    don't survive pickling).

    SINGLE writer by default (``parallelism=1``): put() is an
    unsynchronized read-modify-write against shared sheet state, so
    concurrent partitions race on the header bootstrap and on
    find-then-append for keys present in two partitions (duplicate
    header/data rows). The reference's loop is single-threaded for the
    same reason, and Sheets API write quotas make one writer the
    realistic ceiling anyway; raise ``parallelism`` only for
    append-only, key-disjoint loads. For bulk loads prefer the
    set-oriented :func:`sheet_upsert` + one write; this path exists for
    parity with the reference's operational contract."""
    fields = list(obj_fields)

    def _write(rows) -> None:
        tr = SheetTransport(client_factory(), sheet_name, id_field, fields)
        for row in rows:
            tr.put(row.asDict() if hasattr(row, "asDict") else dict(row))

    df.coalesce(parallelism).foreachPartition(_write)
