"""The ETL pipeline: JSON-lines ingest -> DynamoDB-JSON decode -> per-entity
cleansing transform -> keyed upsert.

Re-expresses the reference's S3 -> transform -> DynamoDB automation
(``packages/app/bundles/custom/apis/etl.ts:18-54`` +
``models/ETL.ts`` + ``aws/{s3,dynamodb}/*-connector.ts``) Spark-first:

- S1 S3 JSON-lines scan: the reference streams an S3 object through
  ``readline`` in 25-line callback batches (``s3-connector.ts:215-252``);
  here it's one ``spark.read.text`` scan decoded in a single projection —
  partition parallelism replaces the batching (at 100 TB the scan fans
  out across executors; nothing touches the driver).
- DynamoDB-JSON decode: typed attributes ``{S,N,BOOL,SS,L,M}`` become plain
  columns (SURVEY.md §1.2 "second wire format").
- Entity transforms (``ETL.ts:13-64``): promotions dedup-merge (J3),
  checklists empty-string sanitize (F9), managements rename+enum (F7/F8),
  identity for products/clients/activitys.
- S4/S6 keyed upsert: the DynamoDB BatchWrite/PutItem sink is a keyed
  overwrite — emulated as one keyed aggregate over the stored and incoming
  rows in which the newest version of each key wins, written once (no Delta
  in this environment; with Delta it's a single MERGE INTO). The store is
  read with the schema in its parquet footer, so an incremental batch runs
  two Spark jobs: the merge's shuffle-map stage and the write.
"""

from __future__ import annotations

import json
import os
import shutil
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# DynamoDB-JSON decode
# ---------------------------------------------------------------------------

#: attribute-type -> (JSON sub-path, decoder)
_DYNAMO_DECODERS: dict[str, Callable[[Column], Column]] = {
    "S": lambda c: c,
    "N": lambda c: c.cast("double"),
    "BOOL": lambda c: c.cast("boolean"),
    "SS": lambda c: F.from_json(c, T.ArrayType(T.StringType())),
    "L": lambda c: F.from_json(c, T.ArrayType(T.StringType())),
    "M": lambda c: c,  # kept as JSON string; caller applies from_json w/ schema
}


def read_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """S1: JSON-lines scan. Each line is ``{"Item": {...}}``; we read as raw
    text so malformed lines survive to the decoder (the reference does
    ``JSON.parse(line)?.Item`` per line and skips falsy results)."""
    return spark.read.text(path).withColumnRenamed("value", "line")


def decode_dynamodb_json(df: DataFrame, attrs: dict[str, str],
                         line_col: str = "line") -> DataFrame:
    """Decode DynamoDB-typed JSON lines into plain columns.

    ``attrs`` maps output column name -> DynamoDB type tag (S/N/BOOL/SS/L/M).
    A row whose ``Item`` is missing decodes to all-null columns (then
    dropped by transforms keyed on id, matching ``etl.ts:48-49``).

    get_json_object is a JVM-side JSON path evaluator — stays inside
    whole-stage codegen; no Python in the loop.
    """
    cols = []
    for name, tag in attrs.items():
        raw = F.get_json_object(F.col(line_col), f"$.Item.{name}.{tag}")
        cols.append(_DYNAMO_DECODERS[tag](raw).alias(name))
    return df.select(*cols)


def encode_dynamodb_json(df: DataFrame, attrs: dict[str, str]) -> DataFrame:
    """Inverse of :func:`decode_dynamodb_json` (used when a Dynamo-shaped
    sink is requested, and by round-trip tests)."""
    item = F.struct(*[
        F.struct(F.col(name).cast("string").alias(tag) if tag in ("S", "N", "BOOL")
                 else F.col(name).alias(tag)).alias(name)
        for name, tag in attrs.items()
    ])
    return df.select(F.to_json(F.struct(item.alias("Item"))).alias("line"))


# ---------------------------------------------------------------------------
# Entity transforms (ETL.ts:13-64)
# ---------------------------------------------------------------------------

def promotions_transform(df: DataFrame, order_col: str = "_ingest_order") -> DataFrame:
    """J3/A6/U3 — dedup-merge by id, first occurrence wins:

    - rows with null id are dropped (``ETL.ts:17,26``);
    - the FIRST row for an id keeps its scalar fields;
    - duplicate rows' ``products`` arrays are concatenated onto the kept row
      in row order, WITHOUT dedup inside the array (``ETL.ts:22``).

    ``order_col`` is the ingestion-order column (the reference relies on
    file line order; callers get it for free from
    ``monotonically_increasing_id`` at read time, which is
    partition-monotonic — exact file order at any scale when paired with
    the input file's line offsets, and sufficient for first-wins semantics).
    One hash-partition shuffle on id; everything JVM-side.
    """
    scalar_cols = [c for c in df.columns
                   if c not in ("id", "products", order_col)]
    merged = F.flatten(F.transform(
        F.array_sort(F.collect_list(F.struct(
            F.col(order_col).alias("o"),
            F.coalesce(F.col("products"),
                       F.array().cast("array<string>")).alias("v")))),
        lambda s: s["v"]))
    return (
        df.filter(F.col("id").isNotNull())
        .groupBy("id")
        .agg(
            *[F.min_by(c, order_col).alias(c) for c in scalar_cols],
            merged.alias("products"),
        )
    )


def checklists_transform(df: DataFrame, raw_status_col: str = "status_raw") -> DataFrame:
    """F9 — ``status: {L: ""}`` (empty string where a list belongs) becomes
    ``[]`` (``ETL.ts:30-39``). The decoder yields NULL for the malformed
    empty-string case (from_json('')), so both '' and NULL sanitize to []."""
    if raw_status_col in df.columns:
        status = F.when(
            F.col(raw_status_col).isNull() | (F.col(raw_status_col) == ""),
            F.array().cast("array<string>")
        ).otherwise(F.from_json(F.col(raw_status_col), "array<string>"))
        return df.withColumn("status", status).drop(raw_status_col)
    return df.withColumn(
        "status", F.coalesce(F.col("status"), F.array().cast("array<string>")))


def managements_transform(df: DataFrame) -> DataFrame:
    """F7/F8 — rename ``clientid``->``clientId``, ``productid``->``productId``
    (``ETL.ts:46-54``); normalize ``status``: values already in
    {'in-progress','pending'} kept verbatim, 'E0004' -> 'pending', anything
    else -> 'in-progress' (``ETL.ts:55-57``)."""
    out = df
    for old, new in (("clientid", "clientId"), ("productid", "productId")):
        if old in out.columns:
            out = out.withColumnRenamed(old, new)
    status = (
        F.when(F.col("status").isin("in-progress", "pending"), F.col("status"))
        .when(F.col("status") == "E0004", F.lit("pending"))
        .otherwise(F.lit("in-progress"))
    )
    return out.withColumn("status", status)


def identity_transform(df: DataFrame) -> DataFrame:
    """Default transform for products/clients/activitys (``ETL.ts:63-64``)."""
    return df


ENTITY_ATTRS: dict[str, dict[str, str]] = {
    "promotions": {"id": "S", "products": "SS", "name": "S", "city": "S"},
    "checklists": {"id": "S", "status": "L", "productId": "S"},
    "managements": {"id": "S", "clientid": "S", "productid": "S", "status": "S"},
    "products": {"id": "S", "name": "S", "price": "N"},
    "clients": {"id": "S", "name": "S"},
    "activitys": {"id": "S", "clientId": "S", "productId": "S", "created": "S"},
}

ENTITY_TRANSFORMS: dict[str, Callable[[DataFrame], DataFrame]] = {
    "promotions": lambda df: promotions_transform(df),
    "checklists": lambda df: checklists_transform(df),
    "managements": managements_transform,
    "products": identity_transform,
    "clients": identity_transform,
    "activitys": identity_transform,
}


def run_entity_pipeline(spark: SparkSession, entity: str, src_path: str) -> DataFrame:
    """The full load_from_s3_to_dynamodb pipeline for one entity
    (``etl.ts:46-53``): scan -> decode -> transform. Returns the cleansed
    DataFrame ready for :func:`keyed_upsert`."""
    # ingestion order: partition-monotonic id preserves line order per file.
    # _ingest_order rides through EVERY entity (not just promotions):
    # keyed_upsert resolves same-key collisions within a batch by LAST
    # write (PutItem overwrite order = file line order) and silently
    # degrades to an arbitrary winner without it; the promotions
    # transform consumes the column, keyed_upsert strips it
    cols = [F.monotonically_increasing_id().alias("_ingest_order")]
    for n, t in ENTITY_ATTRS[entity].items():
        raw = F.get_json_object("line", f"$.Item.{n}.{t}")
        if entity == "checklists" and n == "status":
            # decode status as a RAW string so the sanitizer can tell the
            # malformed '' case from a real list before parsing
            cols.append(raw.alias("status_raw"))
        else:
            cols.append(_DYNAMO_DECODERS[t](raw).alias(n))
    # reference parity (etl.ts:48-49): a line whose JSON.parse is falsy or
    # has no Item writes NOTHING — an undropped all-null row would reach
    # keyed_upsert, which keeps every stored null-key row apart, so each
    # later batch would add one more garbage row
    decoded = (read_jsonl(spark, src_path).select(*cols)
               .filter(F.col("id").isNotNull()))
    return ENTITY_TRANSFORMS[entity](decoded)


# ---------------------------------------------------------------------------
# Keyed upsert sink (S4/S6 semantics)
# ---------------------------------------------------------------------------

def keyed_upsert(existing: DataFrame | None, incoming: DataFrame,
                 key: str = "id") -> DataFrame:
    """Upsert-by-key snapshot: incoming rows replace existing rows with the
    same key; within incoming, the LAST write wins per key (DynamoDB PutItem
    overwrite semantics, ``dynamo-connector.ts:91-107``). Without an
    ``_ingest_order`` column one arbitrary whole incoming row wins, as
    ``dropDuplicates([key])`` would pick it.

    With a transactional table format this is ``MERGE INTO``; as pure
    DataFrames it is ONE keyed aggregate: existing rows ranked ``(0,
    null)`` and incoming rows ranked ``(1, _ingest_order)`` are unioned by
    name (so a missing or extra column raises and int/long widen as
    ``unionByName`` does) and each key keeps its highest-ranked row. One
    shuffle and no driver involvement; the stored rows cross the
    exchange too. NULL keys match nothing: every existing null-key row
    survives on its own and the incoming ones collapse to one. The
    result has the key first, then the other columns in the existing
    store's order (in incoming's on a first write, which without
    ``_ingest_order`` keeps incoming's order as it is).
    """
    ordered = "_ingest_order" in incoming.columns
    data = [c for c in incoming.columns if c != "_ingest_order"]
    no_order = F.lit(None).cast("long")

    def rank(side: int, order: Column) -> Column:
        return F.struct(F.lit(side).alias("side"),
                        order.alias("order")).alias("_rank")

    merged = incoming.select(
        *data, rank(1, F.col("_ingest_order") if ordered else no_order),
        no_order.alias("_slot"))
    if existing is not None:
        data = existing.columns
        # _slot is unique per stored null-key row, so those never group
        # with each other or with an incoming row
        slot = F.when(F.col(key).isNull(), F.monotonically_increasing_id())
        merged = existing.select(*data, rank(0, no_order),
                                 slot.alias("_slot")).unionByName(merged)
    cols = (data if existing is None and not ordered
            else [key, *[c for c in data if c != key]])
    # ONE max_by over a struct of the whole payload: per-column max_by
    # would pick each column independently, and two rows tying on rank
    # could interleave fields into a merged row that never existed
    values = [c for c in cols if c != key]
    return (merged.groupBy(key, "_slot")
            .agg(F.max_by(F.struct(*values), "_rank").alias("_w"))
            .select(*[F.col(key) if c == key else F.col(f"_w.{c}").alias(c)
                      for c in cols]))


def cascade_delete(parent: DataFrame, children: DataFrame, fk_col: str,
                   deleted_ids: DataFrame | list,
                   parent_id_col: str = "id"
                   ) -> tuple[DataFrame, DataFrame]:
    """J4: ENFORCED cascade delete for a link declared
    ``linkTo(..., {deleteOnCascade: true})`` (``ProtoModel.ts:280-284``,
    ``BaseSchema.ts:97-104`` — the reference DECLARES the option in the
    schema but never consumes it; this operator supplies the semantics
    the declaration promises): deleting parent rows also deletes every
    child row whose ``fk_col`` references a deleted parent.

    ``deleted_ids`` is a one-column DataFrame (any column name) or a
    literal id list. Returns ``(parent_after, children_after)``.
    Multi-hop chains compose by re-application: derive the deleted
    children (``children.join(ids, semi)``) and cascade again.

    Scale shape: two left-anti hash joins on the id key — the deleted-id
    side broadcasts while it is small (the usual delete-batch shape) and
    degrades to a shuffled anti-join past the threshold; neither the
    parent nor the child table is ever collected or re-keyed. NULL FKs
    (unlinked children) survive, as a NULL key matches nothing in an
    anti-join — same convention as domain_filter."""
    if not isinstance(deleted_ids, DataFrame):
        deleted_ids = parent.sparkSession.createDataFrame(
            [(i,) for i in deleted_ids],
            parent.select(parent_id_col).schema)
    ids = (deleted_ids
           .select(F.col(deleted_ids.columns[0]).alias(parent_id_col))
           .distinct())
    parent_after = parent.join(ids, parent_id_col, "left_anti")
    children_after = children.join(
        ids.withColumnRenamed(parent_id_col, fk_col), fk_col, "left_anti")
    return parent_after, children_after


_COMMIT_FILE = "_commit.json"


def recover_snapshot(path: str) -> bool:
    """Heal an interrupted :func:`overwrite_via_tmp` swap at ``path`` and
    report whether a committed snapshot exists there.

    Every exists-check that gates a merge-vs-bootstrap decision in this
    package goes through here, so a crash mid-swap is never mistaken
    for an empty store. The states a crash can leave:

    ``path``  ``._old``  ``._tmp``  action
    absent    present    present    rename ``._tmp`` to ``path``
    (every other combination)       drop ``._tmp`` and ``._old``

    The first row is a crash between the swap's two renames: ``._tmp``
    is complete, commit record included, because ``._old`` is only
    created after the staging write returned, so the swap rolls
    forward. In every other state a
    ``._tmp`` is an unfinished staging write and an ``._old`` a
    snapshot already replaced (or lost together with ``path``), so
    both are garbage. A partially deleted ``._old`` is never restored,
    and a killed first write leaves the store absent."""
    tmp = path.rstrip("/") + "._tmp"
    old = path.rstrip("/") + "._old"
    if (not os.path.exists(path) and os.path.exists(old)
            and os.path.exists(tmp)):
        os.rename(tmp, path)
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(old, ignore_errors=True)
    return os.path.exists(path)


def read_commit(path: str) -> dict:
    """The ``commit`` record that :func:`overwrite_via_tmp` swapped in
    with the snapshot at ``path``, or ``{}`` when there is none. Call
    :func:`recover_snapshot` first."""
    try:
        with open(os.path.join(path, _COMMIT_FILE)) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return {}


#: where Spark's parquet writer files the row schema in a footer
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def read_snapshot(spark: SparkSession, path: str) -> DataFrame:
    """Read the committed snapshot at ``path`` without a schema-inference
    job: the schema is the one Spark wrote into the footer of its first
    data file, read on the driver. A store whose files carry no such
    footer key (written by another tool), or that has no data file at its
    top level, is read with ``spark.read.parquet``'s inference. Call
    :func:`recover_snapshot` first."""
    import pyarrow.parquet as pq

    files = sorted(f for f in os.listdir(path) if f[0] not in "_."
                   and os.path.isfile(os.path.join(path, f)))
    meta = (pq.read_metadata(os.path.join(path, files[0])).metadata or {}
            if files else {})
    reader = spark.read
    if _SPARK_SCHEMA_KEY in meta:
        reader = reader.schema(
            T.StructType.fromJson(json.loads(meta[_SPARK_SCHEMA_KEY])))
    return reader.parquet(path)


def overwrite_via_tmp(df: DataFrame, path: str,
                      commit: dict | None = None) -> None:
    """Replace the parquet snapshot at ``path`` with ``df``, which may
    read from ``path`` itself, or create it if absent:

    1. :func:`recover_snapshot` heals any earlier interrupted swap;
    2. ``df`` is written once, to ``path._tmp``, and ``commit``, when
       given, as ``path._tmp/_commit.json`` (:func:`read_commit`);
    3. if ``path`` exists it is renamed to ``path._old``;
    4. ``path._tmp`` is renamed to ``path``;
    5. ``path._old`` is removed.

    After :func:`recover_snapshot`, a crash in step 2 or 3 leaves the
    old snapshot (or no store) at ``path``, and a crash in step 4 or 5
    leaves the new one; never a partial write. The record swaps in with
    the data it describes; readers of the parquet skip ``_`` files. At
    scale the store is a transactional table format and this is one
    MERGE INTO."""
    tmp = path.rstrip("/") + "._tmp"
    old = path.rstrip("/") + "._old"
    recover_snapshot(path)
    df.write.mode("overwrite").parquet(tmp)
    if commit is not None:
        with open(os.path.join(tmp, _COMMIT_FILE), "w") as fh:
            json.dump(commit, fh)
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)


def upsert_into_path(spark: SparkSession, incoming: DataFrame, path: str,
                     key: str = "id") -> None:
    """MERGE-into-table emulation against a parquet path: read the
    committed snapshot if there is one (:func:`recover_snapshot`,
    :func:`read_snapshot`), apply :func:`keyed_upsert`, and swap the
    result in with :func:`overwrite_via_tmp`, the first write included.
    An incremental batch runs two Spark jobs, the merge's shuffle-map
    stage and the write, plus whatever the transform of ``incoming``
    shuffles. Readers load ``path`` themselves."""
    existing = read_snapshot(spark, path) if recover_snapshot(path) else None
    overwrite_via_tmp(keyed_upsert(existing, incoming, key), path)


# ---------------------------------------------------------------------------
# S4 transport: keyed-batch writer with the reference's chunk/backoff contract
# ---------------------------------------------------------------------------

def make_batch_writer(send, *, batch_size: int = 25, max_retries: int = 5,
                      retryable: tuple[str, ...] = (
                          "ProvisionedThroughputExceededException",),
                      sleep=None, on_give_up=None):
    """Partition-function factory reproducing the reference's DynamoDB
    batchWriteItems transport contract (`dynamo-connector.ts:145-185`):

    - items chunk into ``batch_size`` = 25 puts (the DynamoDB batch cap);
    - each chunk retries up to ``max_retries`` = 5 attempts;
    - a throughput-exceeded error backs off 2^attempt SECONDS before the
      next attempt; any other error is logged and retried IMMEDIATELY
      (the reference increments `attempt` without waiting — reproduced,
      not "improved", so operational behavior matches);
    - a chunk still failing after 5 attempts is reported and SKIPPED,
      never raised (the reference logs and moves to the next chunk).

    ``send`` takes a list of row dicts and raises on transport failure —
    a real client calls BatchWriteItem; tests inject a scripted fake.
    Errors are matched as retryable by exception class name or a
    ``name`` attribute (the AWS SDK error-shape). Returns the
    partition function for :func:`dynamo_batch_write` /
    ``df.foreachPartition`` — per-partition sequential chunks, so total
    write concurrency = Spark partition count, which is how the
    row-at-a-time reference loop parallelizes on a cluster."""
    import time as _time

    do_sleep = sleep if sleep is not None else _time.sleep
    give_up = on_give_up if on_give_up is not None else (
        lambda batch, err: print(
            f"Failed to write batch after {max_retries} retries.", err))

    def _flush(batch: list) -> None:
        last_err = None
        for attempt in range(max_retries):
            try:
                send(batch)
                return
            except Exception as err:  # noqa: BLE001 — transport contract
                last_err = err
                name = getattr(err, "name", type(err).__name__)
                if name in retryable:
                    # the backoff fires even after the FINAL attempt's
                    # failure (a dead wait before give-up): that is the
                    # reference's while-loop shape, reproduced — its
                    # operational behavior is the contract here
                    do_sleep(2 ** attempt)
        give_up(batch, last_err)

    def write_partition(rows) -> None:
        batch: list = []
        for row in rows:
            batch.append(row.asDict(recursive=True)
                         if hasattr(row, "asDict") else dict(row))
            if len(batch) >= batch_size:
                _flush(batch)
                batch = []
        if batch:
            _flush(batch)

    return write_partition


def dynamo_batch_write(df: DataFrame, send, **kwargs) -> None:
    """S4 sink over the real transport shape: every Spark partition
    streams its rows through :func:`make_batch_writer`'s 25-item
    chunk/backoff loop via ``foreachPartition`` — no collect, no
    driver-side batching; the driver only schedules tasks. ``send`` must
    be picklable (a top-level function or a client-factory closure that
    constructs its connection lazily INSIDE the executor — sockets don't
    survive pickling)."""
    df.foreachPartition(make_batch_writer(send, **kwargs))
