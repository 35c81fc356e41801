"""Streaming sinks: keyed upsert via foreachBatch, and exact streaming
dedup with watermark-bounded state.

The reference's event path writes each row into a keyed store as it
arrives (`packages/protonode/src/lib/generateApi.ts:343-350` db.put loop).
The Spark twin is a micro-batched MERGE: every trigger applies the batch's
rows to the table with last-writer-wins-per-key semantics — the same
`keyed_upsert` used by the batch ETL (operators/etl.py), so batch and
streaming ingestion share one code path and one semantics.

foreachBatch is at-least-once: a batch whose sink call crashed is
replayed with the same id on restart (``stream_keyed_upsert`` needs no
guard: a keyed last-wins replay is idempotent). The merge sinks below
commit each batch with ONE snapshot swap (``overwrite_via_tmp``) that
carries the record ``{"batches": {query_id: last applied batch id}}``
inside the store (``read_commit``), so data and replay record land
together:

- a batch id at or below the record's entry for this query is skipped;
- anything else is merged and committed with the record advanced.

The query id comes from the checkpoint's metadata: a restart on the
same checkpoint keeps it, and a fresh checkpoint at any path starts a
new entry, so a deliberate second ingestion applies.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from ..operators.etl import overwrite_via_tmp as _overwrite_via_tmp
from ..operators.etl import read_commit as _read_commit
from ..operators.etl import read_snapshot as _read_snapshot
from ..operators.etl import recover_snapshot as _recover_snapshot
from ..operators.etl import upsert_into_path


def _start(stream: DataFrame, apply_batch, checkpoint: str,
           available_now: bool) -> StreamingQuery:
    """Start ``stream`` with ``apply_batch`` as its foreachBatch sink,
    checkpointed at ``checkpoint``; ``available_now`` drains what is
    there and stops."""
    writer = (stream.writeStream
              .foreachBatch(apply_batch)
              .option("checkpointLocation", checkpoint))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_keyed_upsert(stream: DataFrame, path: str, key: str,
                        checkpoint: str, *, order_col: str | None = None,
                        available_now: bool = True) -> StreamingQuery:
    """S6 streaming twin: MERGE each micro-batch into the parquet snapshot
    at ``path`` (foreachBatch -> the batch keyed_upsert). Exactly-once per
    batch via the checkpoint; at scale the sink is a transactional table
    format and this becomes ``MERGE INTO`` inside foreachBatch.

    Within one micro-batch, ``order_col`` (e.g. an event-time or sequence
    column) decides which duplicate of a key wins — last per order wins,
    matching the reference's sequential db.put loop. Without it, micro-
    batch frames carry no row order, so the within-batch winner is
    arbitrary (documented dropDuplicates fallback). ``order_col`` must be
    a timestamp or integral column (anything else raises — a silent
    ANSI cast failure would kill the stream mid-batch, and a non-ANSI
    NULL cast would null the payload); rows whose order value is NULL
    rank below every ordered row instead of nulling the stored payload
    (max_by skips NULL keys — a key whose only rows had NULL order would
    otherwise be stored with every payload column NULL)."""
    # validate from the STREAM's schema at build time — both checks
    # depend only on columns/types known before start(), and deferring
    # them into foreachBatch turned caller mistakes into a
    # StreamingQueryException on the first micro-batch of a live query
    # (checkpoint dir already created) instead of an immediate ValueError
    if order_col is not None:
        if "_ingest_order" in stream.columns:
            raise ValueError(
                "stream_keyed_upsert: input already has a column "
                "named _ingest_order (reserved for the order key); "
                "rename it or drop order_col")
        _dt = stream.select(order_col).schema[0].dataType.typeName()
        if not (_dt.startswith("timestamp")
                or _dt in ("long", "integer", "short", "byte")):
            raise ValueError(
                f"stream_keyed_upsert: order_col {order_col!r} has "
                f"unsupported type {_dt}; use a timestamp or integral "
                "column")

    def apply_batch(batch: DataFrame, _batch_id: int) -> None:
        from pyspark.sql import functions as F

        from ..functions.core import epoch_micros
        if order_col is not None:
            # resolve via select() so nested paths ('window.start') work
            dt = batch.select(order_col).schema[0].dataType.typeName()
            if dt.startswith("timestamp"):
                order = epoch_micros(batch, order_col)
            else:
                order = F.col(order_col).cast("long")
            # NULL order -> long-min sentinel: loses to any ordered row,
            # still carries its payload when it is the key's only row
            order = F.coalesce(order, F.lit(-(1 << 62)))
            batch = batch.withColumn("_ingest_order", order)
        upsert_into_path(batch.sparkSession, batch, path, key=key)

    return _start(stream, apply_batch, checkpoint, available_now)


def stream_dedup(stream: DataFrame, keys: list[str], *,
                 event_time_col: str, delay: str = "1 hour") -> DataFrame:
    """Exact streaming dedup (north-star dedup family, streaming form):
    dropDuplicatesWithinWatermark — a duplicate arriving within ``delay``
    of the original's event time is suppressed, and state older than the
    watermark is EVICTED, so memory is O(keys per watermark window), not
    O(total distinct keys). (Plain dropDuplicates(keys) would keep one
    state row per key forever when the event-time column isn't part of the
    key set.) The batch twin is ``dropDuplicates(keys)``."""
    return (stream.withWatermark(event_time_col, delay)
            .dropDuplicatesWithinWatermark(keys))


def _writer_id(batch: DataFrame) -> str:
    """The id the commit record files a micro-batch under: the stream's
    query id, kept in the checkpoint's metadata — stable across restarts
    on one checkpoint, new for a fresh checkpoint at any path."""
    return batch.sparkSession.sparkContext.getLocalProperty(
        "sql.streaming.queryId")


def _merge_sink(stream: DataFrame, path: str, checkpoint: str,
                partial_fn, merge_fn, *,
                available_now: bool) -> StreamingQuery:
    """Shared MERGE-into-parquet sink, the one body behind the
    rollup/CMS/HLL/top-k/funnel sinks. Each micro-batch:

    1. heals ``path`` and skips a batch id its record already holds;
    2. reduces to its own partial (``partial_fn(batch)``), merged with
       the stored snapshot if one exists (``merge_fn(existing, part)``,
       the snapshot read with its footer schema by ``read_snapshot``);
    3. swaps the result in with ``overwrite_via_tmp``, the first write
       included, carrying the record advanced to this batch id.

    A crash before the swap's first rename replays the batch onto the
    old snapshot; a crash after it finds the batch recorded. Every merge
    is applied once, additive or not."""

    def apply_batch(batch: DataFrame, bid: int) -> None:
        qid = _writer_id(batch)
        has = _recover_snapshot(path)
        batches = _read_commit(path).get("batches", {})
        if bid <= batches.get(qid, -1):
            return                      # replayed batch: already merged
        part = partial_fn(batch)
        if has:
            part = merge_fn(_read_snapshot(batch.sparkSession, path), part)
        _overwrite_via_tmp(part, path,
                           commit={"batches": {**batches, qid: bid}})

    return _start(stream, apply_batch, checkpoint, available_now)


def stream_rollup_upsert(stream: DataFrame, path: str, checkpoint: str, *,
                         window_duration: str = "1 hour",
                         event_time_col: str = "ts",
                         group_col: str = "event_type",
                         value_col: str = "value",
                         available_now: bool = True):
    """Continuous-aggregate maintenance (the hypertable/materialized-rollup
    shape): each micro-batch is aggregated to per-(window, group) partial
    counts/sums, then MERGED into the stored rollup by summing with the
    existing row — incremental work is O(batch), never a recompute of the
    full history. count and sum are mergeable; avg derives as sum/count at
    read time (the standard partial-aggregate discipline; percentiles would
    store a mergeable sketch the same way).

    At scale the store is a transactional table and the merge is one
    ``MERGE INTO``; the parquet read-union-overwrite here is the local
    emulation, same as ``upsert_into_path``."""
    from pyspark.sql import functions as F

    def partial(batch: DataFrame) -> DataFrame:
        return (batch
                .groupBy(F.window(event_time_col, window_duration)
                         .alias("_w"), group_col)
                .agg(F.count("*").alias("cnt"),
                     F.sum(value_col).alias("sum_value"))
                .select(F.col("_w.start").alias("win_start"), group_col,
                        "cnt", "sum_value"))

    def merge(existing: DataFrame, part: DataFrame) -> DataFrame:
        return (existing.unionByName(part)
                .groupBy("win_start", group_col)
                .agg(F.sum("cnt").alias("cnt"),
                     F.sum("sum_value").alias("sum_value")))

    return _merge_sink(stream, path, checkpoint, partial, merge,
                       available_now=available_now)


def stream_cms_upsert(stream: DataFrame, path: str, checkpoint: str, *,
                      item_col: str = "item", d: int = 4, w: int = 512,
                      available_now: bool = True):
    """Streaming count-min sketch maintenance: each micro-batch folds to
    its own d x w partial sketch (``scale.cms_sketch``) and MERGES into
    the stored sketch by cell-wise addition — the mergeability that makes
    CMS the right frequency monitor for an endless stream: state is a
    FIXED 2048-cell table no matter how many distinct items flow
    through, and the stored sketch equals the batch sketch of everything
    seen (stream == batch twin test asserts cell equality).

    Same MERGE-into-parquet emulation as ``stream_rollup_upsert``; at
    scale the sink is a transactional table and this is one MERGE INTO
    keyed by (r, c)."""
    from pyspark.sql import functions as F

    from ..operators.scale import cms_sketch

    def merge(existing: DataFrame, part: DataFrame) -> DataFrame:
        return (existing.unionByName(part)
                .groupBy("r", "c").agg(F.sum("cnt").alias("cnt")))

    return _merge_sink(stream, path, checkpoint,
                       lambda b: cms_sketch(b, item_col, d=d, w=w), merge,
                       available_now=available_now)


def stream_hll_upsert(stream: DataFrame, path: str, checkpoint: str, *,
                      item_col: str = "item", b: int = 8,
                      available_now: bool = True):
    """Streaming HyperLogLog maintenance: each micro-batch folds to its
    own register table (``scale.hll_registers``) and MERGEs into the
    stored sketch by per-bucket max — "distinct items ever seen" over an
    endless stream with 2^b rows of state, and the stored table equals
    the batch sketch of everything seen (twin test asserts register
    equality). Same MERGE-into-parquet emulation as the CMS sink."""
    from pyspark.sql import functions as F

    from ..operators.scale import hll_registers

    def merge(existing: DataFrame, part: DataFrame) -> DataFrame:
        return (existing.unionByName(part)
                .groupBy("bucket").agg(F.max("rank").alias("rank")))

    return _merge_sink(stream, path, checkpoint,
                       lambda batch: hll_registers(batch, item_col, b=b),
                       merge,
                       available_now=available_now)


def stream_topk_upsert(stream: DataFrame, path: str, checkpoint: str, *,
                       group_col: str = "event_type",
                       order_col: str = "value",
                       id_col: str = "event_id", k: int = 3,
                       available_now: bool = True):
    """Continuous per-group top-k maintenance (the live leaderboard
    sink): each micro-batch reduces to ITS OWN per-group top-k, merges
    with the stored top-k, and re-cuts to k — valid because top-k is
    mergeable exactly the way partial aggregates are: topk(A ∪ B) ==
    topk(topk(A) ∪ topk(B)). Stored state is k rows per group forever,
    no matter how many events flow through; the deterministic
    (order desc, id asc) cut makes the stored result equal the batch
    top-k of everything seen (stream == batch twin test).

    Same MERGE-into-parquet emulation as ``stream_rollup_upsert``; at
    scale the sink is a transactional table and this is one MERGE INTO
    keyed by (group, rank)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    def _cut(df: DataFrame) -> DataFrame:
        # id-dedup BEFORE the cut: a replayed micro-batch re-merges the
        # same rows, and without this two copies of one event would
        # occupy two rank slots — with it the merge is IDEMPOTENT
        # (re-delivery is a no-op), a strictly stronger property than
        # the additive sketches can offer. The dedup keeps max(order_col)
        # per (group, id) — dropDuplicates would keep an ARBITRARY copy
        # when the same id re-arrives with a different value (an update,
        # not an exact re-delivery), making the stored top-k
        # nondeterministic; max-wins is the monotone leaderboard rule
        w = (W.partitionBy(group_col)
             .orderBy(F.col(order_col).desc(), id_col))
        return (df.groupBy(group_col, id_col)
                .agg(F.max(order_col).alias(order_col))
                .select(group_col, id_col, order_col,
                        F.row_number().over(w).alias("rnk"))
                .filter(F.col("rnk") <= k)
                .drop("rnk"))

    return _merge_sink(
        stream, path, checkpoint,
        lambda batch: _cut(batch.select(group_col, id_col, order_col)),
        lambda existing, part: _cut(existing.unionByName(part)),
        available_now=available_now)


def stream_funnel_upsert(stream: DataFrame, path: str, checkpoint: str, *,
                         gates, available_now: bool = True):
    """Continuously-maintained quality-gate FUNNEL (the streaming twin of
    ``curation.gate_funnel``): each micro-batch evaluates the gate chain
    row-locally, reduces to its own per-stage first-fail kill counts,
    and MERGES into the stored funnel by per-stage addition — valid
    because every document is charged to exactly one stage exactly once,
    so kill counts are additive across batches and the stored table
    equals the batch funnel of everything seen (twin test). State is
    stages+1 rows forever; survivor columns (n_in/n_out) derive from the
    stored kills + total at read time, the standard
    partial-aggregate-store / derive-on-read discipline.

    Same MERGE-into-parquet emulation as the other sinks; at scale the
    sink is a transactional table and this is one MERGE INTO keyed by
    stage."""
    from pyspark.sql import functions as F

    from ..operators.curation import gate_kill_counts

    def merge(existing: DataFrame, part: DataFrame) -> DataFrame:
        return (existing.unionByName(part)
                .groupBy("stage").agg(F.sum("n").alias("n")))

    return _merge_sink(stream, path, checkpoint,
                       lambda batch: gate_kill_counts(batch, gates), merge,
                       available_now=available_now)


def read_funnel(spark, path: str, gates) -> DataFrame:
    """Materialize the stored streaming funnel as the full report shape
    (stage, gate, n_in, n_killed, n_out) — the SAME derivation the batch
    operator uses (`curation.funnel_report`), so the stream and batch
    reports can never diverge."""
    from ..operators.curation import funnel_report

    return funnel_report(spark.read.parquet(path), gates)


def stream_knn_graph_upsert(stream: DataFrame, graph_path: str,
                            index_path: str, checkpoint: str,
                            centroids: list[list[float]], *,
                            k: int = 5, n_probe: int = 2,
                            id_col: str = "vec_id",
                            vec_col: str = "embedding",
                            validate: bool = True,
                            available_now: bool = True) -> StreamingQuery:
    """Streaming twin of the ANN maintenance leg: embeddings arrive as
    a STREAM and every micro-batch folds into the persisted kNN graph
    via ``knn_graph_ivf_incremental`` — the same fixed-codebook,
    index-fed, touched-query-only update the batch operator runs
    nightly, kept exactly equal to a full rebuild (the stream-vs-batch
    equality is pinned in tests).

    State layout (like the module's other sinks this is the
    LOCAL-FILESYSTEM emulation: the file checks are driver-local, so
    point both paths at local disk; a DFS deployment swaps this sink
    for a transactional table format):
    - ``index_path``: the ``ivf_index`` table, partitioned by
      ``centroid_id`` (the documented pruning layout); each batch
      APPENDS its own index rows — old rows never rewrite.
    - ``graph_path``: the stored graph (query_id, neighbor_id, rank,
      score). Its swap is the batch's one commit, and its record holds
      ``batches`` (as in ``_merge_sink``) and ``index_files``, the
      index data files the graph was built over.

    ``validate`` forwards to the operator; a legitimately-small
    bootstrap corpus (fewer than k+1 vectors in the first batch) needs
    ``validate=False`` exactly as the operator documents — note that
    also disables the operator's own old/new disjointness probe.

    Each micro-batch, after ``recover_snapshot(graph_path)``:
    - a batch id the record holds for this query is skipped;
    - an index data file the record does not list is an append whose
      graph commit never landed, and is deleted. A graph without a
      record (hand-seeded) takes every present index file as committed;
    - graph and index present: batch rows whose id is already indexed
      (an old feed under a fresh checkpoint, a re-sent vector) drop
      out; a remaining id found in the graph raises (the stores have
      diverged); the rest runs through the operator against the
      stored index, is appended to the index, and the graph swaps in;
    - no graph: the graph is rebuilt from the stored index plus the
      batch's unindexed rows, which are appended to the index. The
      index counts as present only if it holds a data file. With one
      (a lost graph, or a day-1 crash before the graph commit) the
      rebuild warns and costs a full rebuild; by the operator's
      exactness twin it equals the incrementally maintained graph.
      Without one (day 1, or a day-1 index write killed before it left
      a data file) whatever sits at ``index_path`` is removed and the
      stored index is empty, so the batch is the corpus;
    - index lost, graph present: unrecoverable (the graph holds no
      vectors); raises a named error.
    """
    import contextlib
    import os
    import shutil
    import warnings

    from pyspark.sql import functions as F

    from ..operators import similarity as _sim

    # once-per-STREAM index-width pin: the uniformity validation
    # (_index_n_probe) is an O(stored-index) aggregate, and the index's
    # only writer during the stream is this sink's own guard-checked
    # appends. The FIRST batch that loads the stored index validates
    # uniformity and pins the width; later batches pass the pinned width
    # to the operator (its width-vs-request check still runs on it). A
    # restart re-validates once. None = not yet pinned.
    pinned = {"width": None}

    def _pinned_index_width(index: DataFrame) -> int | None:
        if pinned["width"] is None:
            pinned["width"] = _sim._index_n_probe(
                index, "stream_knn_graph_upsert")
        return pinned["width"]

    def _index_files() -> list[str]:
        found = []
        for root, dirs, files in os.walk(index_path):
            dirs[:] = [d for d in dirs if d[0] not in "_."]
            found += [os.path.relpath(os.path.join(root, f), index_path)
                      for f in files if f[0] not in "_."]
        return sorted(found)

    def _write_index(rows: DataFrame) -> None:
        (_sim.ivf_index(rows, centroids, n_probe, id_col, vec_col)
         .write.partitionBy("centroid_id").mode("append")
         .parquet(index_path))

    def _unindexed(rows: DataFrame, index: DataFrame) -> DataFrame:
        present = (index.select(id_col)
                   .join(F.broadcast(rows.select(id_col)), id_col,
                         "left_semi"))
        return (rows.join(F.broadcast(present), id_col, "left_anti")
                .localCheckpoint())

    def apply_batch(batch: DataFrame, bid: int) -> None:
        spark = batch.sparkSession
        qid = _writer_id(batch)
        has_graph = _recover_snapshot(graph_path)
        rec = _read_commit(graph_path)
        batches = rec.get("batches", {})
        if bid <= batches.get(qid, -1):
            return                      # replayed batch: already merged
        index_files = set(_index_files())
        if "index_files" in rec:        # roll back a stranded append
            for f in index_files - set(rec["index_files"]):
                head, name = os.path.split(os.path.join(index_path, f))
                os.remove(os.path.join(head, name))
                with contextlib.suppress(FileNotFoundError):
                    os.remove(os.path.join(head, f".{name}.crc"))
            index_files &= set(rec["index_files"])
        rows = batch.select(id_col, vec_col).localCheckpoint()
        if rows.isEmpty():
            return
        has_index = bool(index_files)
        if not has_graph:
            if has_index:
                warnings.warn(
                    f"stream_knn_graph_upsert: stored graph at "
                    f"{graph_path} is missing but the index at "
                    f"{index_path} survives — rebuilding the graph from "
                    f"the index (disaster-recovery path, full-rebuild "
                    f"cost)", stacklevel=2)
                stored = spark.read.parquet(index_path)
                # the incremental operator's probe-width guard, ungated
                # there too: a different n_probe would change which
                # cells' members are candidates AND append mixed-width
                # rows
                _sim._check_index(stored, n_probe,
                                  min(n_probe, len(centroids)),
                                  "stream_knn_graph_upsert", id_col,
                                  vec_col, built=_pinned_index_width(stored))
            else:
                # day 1, or a day-1 index write killed before it left a
                # data file: clear what the killed write left and start
                # from an empty index
                shutil.rmtree(index_path, ignore_errors=True)
                stored = _sim.ivf_index(rows.limit(0), centroids, n_probe,
                                        id_col, vec_col)
            # pin the corpus before the append, so the plan cannot see
            # the batch's own rows twice; only unindexed rows append
            corpus = (stored.select(F.col(id_col), F.col(vec_col))
                      .join(F.broadcast(rows.select(id_col)), id_col,
                            "left_anti")
                      .unionByName(rows).localCheckpoint())
            missing = _unindexed(rows, stored)
            if not missing.isEmpty():
                _write_index(missing)
            graph = _sim.knn_graph_ivf(corpus, k=k, n_probe=n_probe,
                                       id_col=id_col, vec_col=vec_col,
                                       centroids=centroids,
                                       with_score=True)
        else:
            if not has_index:
                raise RuntimeError(
                    f"stream_knn_graph_upsert: stored graph at "
                    f"{graph_path} exists but the index at "
                    f"{index_path} is missing — the index holds the "
                    f"vectors and cannot be rebuilt from the graph; "
                    f"restore it from backup, or delete the graph too "
                    f"to re-bootstrap from the next batch")
            old_graph = spark.read.parquet(graph_path)
            old_index = spark.read.parquet(index_path)
            index_width = _pinned_index_width(old_index)
            rows = _unindexed(rows, old_index)
            if rows.isEmpty():
                return
            ids = F.broadcast(rows.select(id_col))
            if (old_graph.select(F.col("query_id").alias(id_col))
                    .unionByName(old_graph.select(
                        F.col("neighbor_id").alias(id_col)))
                    .join(ids, id_col, "left_semi").limit(1).collect()):
                raise RuntimeError(
                    f"stream_knn_graph_upsert: batch {bid} has ids in "
                    f"the stored graph but not the index — the stores "
                    f"have diverged (manual intervention required)")
            # the operator call validates against (and materializes its
            # candidate set from) the pre-append index view — it must
            # run before the append below, or the batch would collide
            # with its own index rows
            graph = _sim.knn_graph_ivf_incremental(
                old_index, old_graph, rows, centroids, k=k,
                n_probe=n_probe, id_col=id_col, vec_col=vec_col,
                with_score=True, validate=validate,
                index_width_checked=index_width)
            _write_index(rows)
        _overwrite_via_tmp(graph, graph_path, commit={
            "batches": {**batches, qid: bid},
            "index_files": _index_files()})
        # every branch that reaches here left the store at the
        # effective width (bootstrap wrote it; the others validated it
        # against the request) — pin it so no later batch re-scans
        pinned["width"] = min(n_probe, len(centroids))

    return _start(stream, apply_batch, checkpoint, available_now)
