"""The ETL pipeline: JSON-lines ingest -> DynamoDB-JSON decode -> per-entity
cleansing transform -> keyed upsert.

Re-expresses the reference's S3 -> transform -> DynamoDB automation
(``packages/app/bundles/custom/apis/etl.ts:18-54`` +
``models/ETL.ts`` + ``aws/{s3,dynamodb}/*-connector.ts``) Spark-first:

- S1 S3 JSON-lines scan: the reference streams an S3 object through
  ``readline`` in 25-line callback batches (``s3-connector.ts:215-252``);
  here it's one ``spark.read.json`` — line-delimited JSON is Spark's native
  mode, and partition parallelism replaces the batching (at 100 TB the scan
  fans out across executors; nothing touches the driver).
- DynamoDB-JSON decode: typed attributes ``{S,N,BOOL,SS,L,M}`` become plain
  columns (SURVEY.md §1.2 "second wire format").
- Entity transforms (``ETL.ts:13-64``): promotions dedup-merge (J3),
  checklists empty-string sanitize (F9), managements rename+enum (F7/F8),
  identity for products/clients/activitys.
- S4/S6 keyed upsert: the DynamoDB BatchWrite/PutItem sink is a keyed
  overwrite — emulated as new-version-wins anti-join union (no Delta in this
  environment; with Delta it's a single MERGE INTO).
"""

from __future__ import annotations

import os
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
    attrs = ENTITY_ATTRS[entity]
    raw = read_jsonl(spark, src_path)
    # ingestion order: partition-monotonic id preserves line order per file
    raw = raw.withColumn("_ingest_order", F.monotonically_increasing_id())
    # _ingest_order rides through EVERY entity (not just promotions):
    # keyed_upsert resolves same-key collisions within a batch by LAST
    # write (PutItem overwrite order = file line order) and silently
    # degrades to an arbitrary dropDuplicates winner without it; the
    # promotions transform consumes the column, keyed_upsert strips it
    if entity == "checklists":
        # decode status as a RAW string so the sanitizer can distinguish the
        # malformed '' case from a real list before parsing
        attrs = {n: t for n, t in attrs.items() if n != "status"}
        decoded = raw.select(
            F.col("_ingest_order"),
            *[_DYNAMO_DECODERS[t](
                F.get_json_object("line", f"$.Item.{n}.{t}")).alias(n)
              for n, t in attrs.items()],
            F.get_json_object("line", "$.Item.status.L").alias("status_raw"),
        )
        # reference parity (etl.ts:48-49): a line whose JSON.parse is
        # falsy or has no Item writes NOTHING — an undropped all-null row
        # would land in keyed_upsert, whose left_anti join can never
        # match a NULL key, so every later batch would KEEP the old
        # null-id row and union a fresh one (one garbage row per upsert)
        return checklists_transform(decoded.filter(F.col("id").isNotNull()))
    cols = [F.get_json_object("line", f"$.Item.{n}.{t}").alias(f"_raw_{n}")
            for n, t in attrs.items()]
    decoded = raw.select(F.col("_ingest_order"), *cols)
    decoded = decoded.select(
        F.col("_ingest_order"),
        *[_DYNAMO_DECODERS[t](F.col(f"_raw_{n}")).alias(n)
          for n, t in attrs.items()])
    # same Item-less-line drop as the checklists branch (etl.ts:48-49)
    return ENTITY_TRANSFORMS[entity](decoded.filter(F.col("id").isNotNull()))


# ---------------------------------------------------------------------------
# Keyed upsert sink (S4/S6 semantics)
# ---------------------------------------------------------------------------

def keyed_upsert(existing: DataFrame | None, incoming: DataFrame,
                 key: str = "id") -> DataFrame:
    """Upsert-by-key snapshot: incoming rows replace existing rows with the
    same key; within incoming, the LAST write wins per key (DynamoDB PutItem
    overwrite semantics, ``dynamo-connector.ts:91-107``).

    With a transactional table format this is ``MERGE INTO``; as pure
    DataFrames it's existing ANTI-JOIN incoming ∪ incoming — one broadcast
    (incoming keys are the small side in steady-state ETL) or shuffled
    anti-join, no driver involvement.
    """
    if "_ingest_order" in incoming.columns:
        payload = [c for c in incoming.columns
                   if c not in (key, "_ingest_order")]
        # ONE max_by over a struct of the whole payload: per-column
        # max_by(c, order) would pick each column independently, and two
        # rows tying on _ingest_order could interleave fields into a
        # merged row that never existed
        deduped = (incoming.groupBy(key)
                   .agg(F.max_by(F.struct(*payload), "_ingest_order")
                        .alias("_w"))
                   .select(key, *[F.col(f"_w.{c}").alias(c)
                                  for c in payload]))
    else:
        deduped = incoming.dropDuplicates([key])
    if existing is None:
        return deduped
    kept = existing.join(deduped.select(key), on=key, how="left_anti")
    return kept.unionByName(deduped)


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


def write_table(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """S5 analog: persist the snapshot (CREATE TABLE IF NOT EXISTS +
    PutItem loop becomes one parquet write)."""
    df.write.mode(mode).parquet(path)


# name of the zero-byte file a swap writes into the OUTGOING snapshot
# directory right before renaming it to '._old' (see recover_snapshot).
# Underscore-prefixed, so parquet readers skip it (the Hadoop
# hidden-file convention — _SUCCESS rides in data dirs the same way).
_STALE_MARK = "_stale_snapshot"


def _gc_tree(d: str) -> None:
    """Retire a directory ATOMICALLY before deleting it: rename to a
    ``._gc`` trash name — which no heal path ever re-enters — then
    rmtree the trash. A bare rmtree of a stamped ``._old`` is not
    atomic: a crash mid-delete can remove the ``_stale_snapshot`` mark
    before the data files, and the next :func:`recover_snapshot` would
    take the legacy gen-1 branch and rename that partial,
    stamp-stripped N-1 directory over an absent ``path`` — resurrecting
    partial stale data as committed, the exact double fault the stamp
    protocol guards against (r10 ADVICE). After the rename, the worst a
    crash can leave is ``._gc`` litter, swept by the next call here (or
    by recover_snapshot for abandoned stores)."""
    import shutil

    trash = d.rstrip("/") + "._gc"
    shutil.rmtree(trash, ignore_errors=True)   # a prior crash's litter
    try:
        os.rename(d, trash)
    except OSError:
        # d already gone: nothing to retire. Rename REFUSED with d
        # still present (undeletable ._gc litter, open handle): a bare
        # rmtree here would reopen the exact stamp-stripping window
        # this function closes (r10 review) — delete in place with the
        # stamp LAST, so a crash mid-delete leaves the partial still
        # marked stale and the heal paths still refuse it.
        if not os.path.isdir(d):
            return
        for entry in os.listdir(d):
            if entry == _STALE_MARK:
                continue
            p = os.path.join(d, entry)
            try:
                shutil.rmtree(p) if os.path.isdir(p) else os.unlink(p)
            except OSError:
                pass
        # the final sweep may only run once the stamp is PROVABLY the
        # last thing left (r11, r10 ADVICE): rmtree deletes children in
        # arbitrary order, so with any undeletable data entry surviving
        # the loop above it could strip the stamp first and leave an
        # UNstamped partial for recover_snapshot's legacy branch to
        # resurrect — the exact double fault this function closes. If
        # anything but the stamp survived, leave the stamp standing so
        # the partial stays marked stale; the next call (or heal) can
        # finish the job when the entry becomes deletable.
        try:
            survivors = [e for e in os.listdir(d) if e != _STALE_MARK]
        except OSError:
            return
        if not survivors:
            shutil.rmtree(d, ignore_errors=True)   # stamp + dir, last
        return
    shutil.rmtree(trash, ignore_errors=True)


def recover_snapshot(path: str) -> bool:
    """Heal an interrupted :func:`overwrite_via_tmp` swap at ``path`` and
    report whether a committed snapshot now exists there.

    Every exists-check that gates a merge-vs-bootstrap decision in this
    package goes through here, so a crash mid-swap can never be
    mistaken for an empty store (which would silently re-bootstrap over
    surviving state). States, by the gen-2 stamp-BEFORE-swap protocol
    (r9 ADVICE: the gen-1 protocol stamped ``._old`` only after the
    second rename, leaving an UNstamped ``._old`` in the
    rename-to-stamp gap — an external loss of ``path`` then resurrected
    the N-1 snapshot as committed, the exact double-fault the stamp
    exists to prevent; the stamp now travels INTO ``._old`` with the
    rename, so no unstamped window exists at all):

    - ``path`` present: committed; a surviving ``._old`` (cleanup
      crash) is dropped, and an orphaned ``._tmp`` (crash during a
      staging write, or between the stamp and the first rename — its
      contents were never committed) is dropped too, so an abandoned
      store never holds a dead snapshot's worth of disk (r9 ADVICE);
    - ``path`` absent, STAMPED ``._old`` + ``._tmp`` present: crash
      between the two renames. The staged successor is complete by
      protocol (the stamp is written only after the staging write
      returns), so the swap is rolled FORWARD — ``._tmp`` becomes
      ``path`` — never the stamped N-1 resurrected;
    - ``path`` absent, STAMPED ``._old``, no ``._tmp``: the double
      fault (post-swap cleanup crash, then ``path`` lost externally)
      — report absent, drop the stale ``._old``;
    - ``path`` absent, UNstamped ``._old``: a gen-1 mid-swap residue
      (no stamp existed before the first rename back then) — restore
      it, the legacy heal.

    Every ``._old`` deletion goes through :func:`_gc_tree` (rename to
    ``._gc`` first — r10 ADVICE: a crash mid-rmtree could strip the
    stamp off a half-deleted ``._old`` and feed the legacy gen-1
    branch partial data); ``._gc`` litter from a crashed delete is
    swept here so an abandoned store does not hold it forever. A
    partial ``._tmp`` needs no such guard: the roll-forward branch
    requires a stamped ``._old``, which :func:`overwrite_via_tmp`
    creates only AFTER the staging write returned — no reachable state
    renames a half-deleted ``._tmp`` into ``path``."""
    import shutil

    tmp = path.rstrip("/") + "._tmp"
    old = path.rstrip("/") + "._old"
    exists = os.path.exists(path)
    if os.path.exists(old):
        if exists:
            _gc_tree(old)
        elif os.path.exists(os.path.join(old, _STALE_MARK)):
            if os.path.exists(tmp):
                os.rename(tmp, path)           # roll the swap forward
                exists = True
            _gc_tree(old)
        else:
            os.rename(old, path)               # legacy gen-1 heal
            exists = True
    if os.path.exists(tmp):
        shutil.rmtree(tmp, ignore_errors=True)  # orphaned staging dir
    if os.path.exists(old + "._gc"):
        shutil.rmtree(old + "._gc", ignore_errors=True)
    return exists


def overwrite_via_tmp(df: DataFrame, path: str) -> None:
    """Overwrite the parquet snapshot at ``path`` with a plan that READS
    from ``path``: stage the new data to a sibling ``._tmp`` (overwriting
    the source while its scan is live would corrupt it), stamp the
    outgoing snapshot stale, then swap directories — ``path`` ->
    ``._old``, ``._tmp`` -> ``path`` — and drop ``._old``. The data is
    written ONCE per merge (the pre-r8 shape re-read the tmp and ran a
    second full Spark write into the final path, doubling write I/O per
    micro-batch and leaving the snapshot deleted-then-half-written if
    that second job crashed).

    Crash windows (all healed by :func:`recover_snapshot`): during the
    staging write ``path`` is untouched and the orphaned ``._tmp`` is
    dropped; between the stamp and the first rename ``path`` is intact
    (a lingering in-place stamp is vacuous — recover only reads stamps
    off ``._old`` — and readers skip underscore files); between the
    renames ``path`` is briefly absent but the stamped ``._old`` plus
    the complete ``._tmp`` roll the swap forward; after the second
    rename a stale ``._old`` is dropped on the next recover. The stamp
    precedes the swap (r9 ADVICE), so there is NO window that leaves an
    unstamped ``._old`` — the double-fault resurrection claim holds for
    every crash point, not just cleanup crashes; ``._old`` deletions
    rename to ``._gc`` first so a crash mid-delete cannot strip the
    stamp off a surviving partial (r10 ADVICE, see :func:`_gc_tree`).
    At scale the store is a transactional table format and this is one
    MERGE INTO."""
    tmp = path.rstrip("/") + "._tmp"
    old = path.rstrip("/") + "._old"
    recover_snapshot(path)
    df.write.mode("overwrite").parquet(tmp)
    if os.path.exists(old):        # unreachable after recover; defensive
        _gc_tree(old)
    if os.path.exists(path):
        # stamp the OUTGOING snapshot BEFORE it becomes '._old' — the
        # stamp rides the rename, so '._old' is born marked stale
        open(os.path.join(path, _STALE_MARK), "w").close()
        os.rename(path, old)
    os.rename(tmp, path)
    if os.path.exists(old):
        _gc_tree(old)


def upsert_into_path(spark: SparkSession, incoming: DataFrame, path: str,
                     key: str = "id") -> None:
    """MERGE-into-table emulation against a parquet path: read-if-exists
    (through the swap-recovery check), upsert, write back atomically via
    the rename swap (a transactional table format replaces all of this
    with one MERGE INTO in production). Readers load ``path`` themselves."""
    if recover_snapshot(path):
        existing = spark.read.parquet(path)
        overwrite_via_tmp(keyed_upsert(existing, incoming, key), path)
    else:
        keyed_upsert(None, incoming, key).write.mode("overwrite").parquet(path)


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
