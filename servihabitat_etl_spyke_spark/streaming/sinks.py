"""Streaming sinks: keyed upsert via foreachBatch, and exact streaming
dedup with watermark-bounded state.

The reference's event path writes each row into a keyed store as it
arrives (`packages/protonode/src/lib/generateApi.ts:343-350` db.put loop).
The Spark twin is a micro-batched MERGE: every trigger applies the batch's
rows to the table with last-writer-wins-per-key semantics — the same
`keyed_upsert` used by the batch ETL (operators/etl.py), so batch and
streaming ingestion share one code path and one semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from ..operators.etl import overwrite_via_tmp as _overwrite_via_tmp
from ..operators.etl import recover_snapshot as _recover_snapshot
from ..operators.etl import upsert_into_path


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

    writer = (stream.writeStream
              .foreachBatch(apply_batch)
              .option("checkpointLocation", checkpoint))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


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


def _last_applied_batch(marker: str) -> int:
    """The batch id recorded by :func:`_commit_batch_marker`, or -1
    when absent/unreadable — the shared half of the replay-skip
    protocol (one implementation; _merge_sink and the kNN-graph sink
    must never drift on marker semantics)."""
    import json
    import os

    if not os.path.exists(marker):
        return -1
    try:
        with open(marker) as fh:
            return json.load(fh).get("batch_id", -1)
    except (OSError, ValueError):
        return -1


def _commit_batch_marker(marker: str, bid: int) -> None:
    """Atomically record ``bid`` as applied (tmp write + os.replace) —
    committed AFTER the data writes, so the remaining at-least-once
    window is the gap between data and marker (see _merge_sink)."""
    import json
    import os

    tmp = marker + ".tmp"
    with open(tmp, "w") as fh:
        json.dump({"batch_id": bid}, fh)
    os.replace(tmp, marker)


def _merge_sink(stream: DataFrame, path: str, checkpoint: str,
                partial_fn, merge_fn, *, available_now: bool,
                additive: bool) -> StreamingQuery:
    """Shared MERGE-into-parquet sink: each micro-batch reduces to its
    own partial (``partial_fn(batch)``), merges with the stored state
    (``merge_fn(existing, partial)``) if a snapshot is stored, and
    swaps the result in with ``overwrite_via_tmp`` (the first batch's
    write included, so a crash never leaves a half-written store) —
    the one body behind the rollup/CMS/HLL/top-k/funnel sinks.

    ``additive=True`` marks merges that DOUBLE-COUNT on micro-batch
    replay (sums; foreachBatch is at-least-once): those record the last
    applied batch id in a marker INSIDE the checkpoint directory and
    SKIP an already-applied batch id on replay. The marker lives with
    the checkpoint, not the data path, because batch ids are a
    per-checkpoint sequence — a deliberate second ingestion into the
    same store under a fresh checkpoint restarts at batch 0 and MUST
    apply. The marker commits after the data, so the remaining
    at-least-once window is a crash in the gap between the two writes —
    a transactional table format closes it completely (one MERGE INTO
    with the batch id in the transaction); this is the documented local
    emulation. Idempotent merges (max, rank-cut re-merge) need no
    marker — replay is a no-op by algebra."""
    import os

    marker = os.path.join(checkpoint, "_merge_sink_last_batch")

    def apply_batch(batch: DataFrame, bid: int) -> None:
        spark = batch.sparkSession
        if additive and bid <= _last_applied_batch(marker):
            return                      # replayed batch: already merged
        part = partial_fn(batch)
        if _recover_snapshot(path):
            part = merge_fn(spark.read.parquet(path), part)
        _overwrite_via_tmp(part, path)
        if additive:
            _commit_batch_marker(marker, bid)

    writer = (stream.writeStream
              .foreachBatch(apply_batch)
              .option("checkpointLocation", checkpoint))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


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
    emulation, same as ``upsert_into_path``. Additive merge — replay
    guarded by the ``_merge_sink`` batch-id marker."""
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
                       available_now=available_now, additive=True)


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
    keyed by (r, c). Additive merge — replay guarded by the
    ``_merge_sink`` batch-id marker."""
    from pyspark.sql import functions as F

    from ..operators.scale import cms_sketch

    def merge(existing: DataFrame, part: DataFrame) -> DataFrame:
        return (existing.unionByName(part)
                .groupBy("r", "c").agg(F.sum("cnt").alias("cnt")))

    return _merge_sink(stream, path, checkpoint,
                       lambda b: cms_sketch(b, item_col, d=d, w=w), merge,
                       available_now=available_now, additive=True)


def stream_hll_upsert(stream: DataFrame, path: str, checkpoint: str, *,
                      item_col: str = "item", b: int = 8,
                      available_now: bool = True):
    """Streaming HyperLogLog maintenance: each micro-batch folds to its
    own register table (``scale.hll_registers``) and MERGEs into the
    stored sketch by per-bucket max — "distinct items ever seen" over an
    endless stream with 2^b rows of state, and the stored table equals
    the batch sketch of everything seen (twin test asserts register
    equality). Same MERGE-into-parquet emulation as the CMS sink —
    max-merge is idempotent under replay, so no batch marker needed."""
    from pyspark.sql import functions as F

    from ..operators.scale import hll_registers

    def merge(existing: DataFrame, part: DataFrame) -> DataFrame:
        return (existing.unionByName(part)
                .groupBy("bucket").agg(F.max("rank").alias("rank")))

    return _merge_sink(stream, path, checkpoint,
                       lambda batch: hll_registers(batch, item_col, b=b),
                       merge,
                       available_now=available_now, additive=False)


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
    keyed by (group, rank). The id-dedup re-merge is idempotent under
    replay, so no batch marker needed."""
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
        available_now=available_now, additive=False)


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
    stage. Additive merge — replay guarded by the ``_merge_sink``
    batch-id marker."""
    from pyspark.sql import functions as F

    from ..operators.curation import gate_kill_counts

    def merge(existing: DataFrame, part: DataFrame) -> DataFrame:
        return (existing.unionByName(part)
                .groupBy("stage").agg(F.sum("n").alias("n")))

    return _merge_sink(stream, path, checkpoint,
                       lambda batch: gate_kill_counts(batch, gates), merge,
                       available_now=available_now, additive=True)


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
    nightly, kept exactly equal to a full rebuild (the batch operator's
    exactness twin carries over; the stream-vs-batch equality is pinned
    in tests).

    State layout (both paths are what a day-1 bootstrap would write;
    like the module's other sinks this is the LOCAL-FILESYSTEM
    emulation — the exists/marker checks are driver-local, so point
    both paths at local disk; a DFS deployment swaps this sink for a
    transactional table format):
    - ``index_path``: the ``ivf_index`` table, partitioned by
      ``centroid_id`` (the documented pruning layout); each batch
      APPENDS its own index rows — old rows never rewrite. Written
      FIRST, see the crash-window note.
    - ``graph_path``: the stored graph (query_id, neighbor_id, rank,
      score) — every write, the day-1 one included, is staged and
      swapped in by ``overwrite_via_tmp``, as in ``_merge_sink``.

    ``validate`` forwards to the operator; a legitimately-small
    bootstrap corpus (fewer than k+1 vectors in the first batch) needs
    ``validate=False`` exactly as the operator documents — note that
    also disables the disjointness tripwire below.

    Replay protection is MANDATORY here, not optional (foreachBatch is
    at-least-once, and this merge is not replay-idempotent): the last
    applied batch id is recorded in a marker inside the checkpoint
    directory and an already-applied id SKIPS (the ``additive=True``
    contract of ``_merge_sink``). The marker commits after the data,
    so a crash can strand a partially-applied batch — and the sink
    SELF-HEALS every such window on replay (r8 review: an earlier
    index-append-first order failed loud, which turned a transient
    graph-write failure into a permanent poison pill). The index is
    appended before the graph overwrite, both writes are job-atomic
    (parquet output commit), and the replay of an uncommitted batch id
    probes which writes already landed:

    - no batch id in the index → fresh batch, normal path;
    - ALL batch ids in the index, EVERY id in the graph (either edge
      endpoint — crash in the data→marker gap) → fully applied; just
      commit the marker;
    - ALL in the index, SOME ids absent from both graph endpoints
      (crash during/after the graph write — including a replayed
      MIXED batch whose old-generation ids are long in the graph) →
      exactly the absent ids are re-merged through an index VIEW
      excluding them (anti-join, the pre-append state) and the
      re-append is skipped. The probe is PER-ROW, never any-id (r9
      ADVICE: an any-id membership probe declared a crashed mixed
      batch applied on its old ids alone, silently dropping the
      fresh vectors from the graph). An applied vector with no edges
      at all also reads as absent — its re-merge is the identity;
    - SOME ids in the index (a mixed batch: an old feed replayed under
      a fresh checkpoint after the original checkpoint was lost) →
      the indexed ids are old corpus; only the genuinely-new rows are
      ingested — never silently declared applied;
    - any non-indexed id in the graph (either endpoint) → impossible
      under this write order; raises loudly as corruption.

    The diagnosis is per-row (batch-sized semi/anti-joins plus limit-1
    probes) — the same cost class as the operator's own validation. A
    transactional table format replaces all of this with one
    transaction.

    Disaster recovery (r8 review): the graph-exists check goes through
    ``recover_snapshot`` (a crash mid-swap heals to the complete old or
    new graph), and a graph that is GENUINELY gone while the
    index survives — external deletion, a lost volume — no longer
    silently re-bootstraps from one micro-batch (which would also
    OVERWRITE the index, losing every stored vector): the index holds
    every ingested vector, so it doubles as the recovery corpus and the
    sink rebuilds the full graph from it (warning emitted; full-rebuild
    cost, disaster path only). By the operator's exactness twin the
    rebuild is byte-equal to the graph the incremental path maintained.
    The rebuild appends index rows PER-ROW (after a checkpoint loss a
    replayed batch may mix old and new ids — all-or-nothing would drop
    the new vectors from the index forever), and enforces the same
    index-n_probe contract the incremental operator does —
    unconditionally, mirroring the operator's ungated guard (r9
    ADVICE: an earlier docstring said "under validate", which the code
    never was). The converse loss — index gone, graph intact — is genuinely
    unrecoverable (the graph holds no vectors) and raises a named,
    actionable error instead of a raw path error on every replay.
    """
    import os
    import warnings

    from pyspark.sql import functions as F

    from ..operators import similarity as _sim

    marker = os.path.join(checkpoint, "_knn_graph_last_batch")

    # once-per-STREAM index-width pin (r11, r10 ADVICE): the uniformity
    # validation (_index_n_probe) is an O(stored-index) aggregate, and
    # running it every micro-batch re-scans an index whose only writer
    # during the stream is this sink's own guard-checked appends — the
    # re-validation added cost, not safety. The FIRST batch that loads
    # the stored index validates uniformity and pins the width here;
    # later batches pass the pinned width to the operator (its
    # width-vs-request check still runs on the attested value). The pin
    # dies with the stream — a restart re-validates once. None = not
    # yet pinned (also the empty-index reading, which pins nothing:
    # re-checking an empty store is free, and the sink's own append
    # makes the next check the last).
    pinned = {"width": None}

    def _pinned_index_width(index: DataFrame) -> int | None:
        if pinned["width"] is None:
            pinned["width"] = _sim._index_n_probe(
                index, "stream_knn_graph_upsert")
        return pinned["width"]

    def _contains_any(store: DataFrame, ids: DataFrame, col: str) -> bool:
        return bool(store.select(F.col(col))
                    .join(F.broadcast(ids), col, "left_semi")
                    .limit(1).collect())

    def apply_batch(batch: DataFrame, bid: int) -> None:
        spark = batch.sparkSession
        if bid <= _last_applied_batch(marker):
            return                      # replayed batch: already merged
        rows = batch.select(id_col, vec_col).localCheckpoint()
        if rows.isEmpty():
            return
        has_graph = _recover_snapshot(graph_path)
        if not has_graph and os.path.exists(index_path):
            # graph lost, index intact: rebuild from the index (the
            # recovery corpus) — bootstrapping here would overwrite the
            # index with one batch's rows. Pin the pre-append corpus
            # BEFORE the index append so the plan can't see the batch's
            # own rows twice; keep the index-before-graph write order so
            # a crash anywhere in here replays into a handled state.
            warnings.warn(
                f"stream_knn_graph_upsert: stored graph at {graph_path}"
                f" is missing but the index at {index_path} survives —"
                f" rebuilding the graph from the index (disaster-"
                f"recovery path, full-rebuild cost)", stacklevel=2)
            stored = spark.read.parquet(index_path)
            # mirror the incremental operator's probe-width guard
            # (UNgated there too): rebuilding with a different n_probe
            # than the index was built with would silently change
            # which cells' members are candidates AND append
            # mixed-n_probe rows (r10: uniformity-checked — a mixed
            # index means a writer bypassed this very guard; r11: the
            # check runs once per stream via the pinned-width cache)
            built = _pinned_index_width(stored)
            np_eff = min(n_probe, len(centroids))
            if built is not None and built != np_eff:
                raise ValueError(
                    f"stream_knn_graph_upsert: stored index was "
                    f"built with n_probe={built} but "
                    f"n_probe={n_probe} (effective {np_eff}) was "
                    f"requested — rebuild the index or match the "
                    f"request")
            ids = rows.select(id_col)
            corpus = (stored.select(F.col(id_col), F.col(vec_col))
                      .join(F.broadcast(ids), id_col, "left_anti")
                      .unionByName(rows).localCheckpoint())
            # append PER-ROW, not all-or-nothing: after a checkpoint
            # loss the replayed batch may MIX previously-ingested ids
            # with genuinely-new ones (the normal path's job-atomic
            # append guarantee doesn't hold across checkpoint
            # generations), and skipping the whole append would drop
            # the new vectors from the index forever
            present = (stored.select(id_col)
                       .join(F.broadcast(ids), id_col, "left_semi"))
            missing = rows.join(F.broadcast(present), id_col,
                                "left_anti")
            if not missing.isEmpty():
                (_sim.ivf_index(missing, centroids, n_probe, id_col,
                                vec_col)
                 .write.partitionBy("centroid_id").mode("append")
                 .parquet(index_path))
            graph = _sim.knn_graph_ivf(corpus, k=k, n_probe=n_probe,
                                       id_col=id_col, vec_col=vec_col,
                                       centroids=centroids,
                                       with_score=True, ordered=False)
            _overwrite_via_tmp(graph, graph_path)
        elif not has_graph:
            # day-1 bootstrap: the first batch IS the corpus. The index
            # is written first; a crash in the graph write leaves the
            # index and no graph, so the replay takes the index-rebuild
            # branch above. (The index write is a direct overwrite, not
            # a swap: a hard kill inside it is not healed.)
            (_sim.ivf_index(rows, centroids, n_probe, id_col, vec_col)
             .write.partitionBy("centroid_id").mode("overwrite")
             .parquet(index_path))
            graph = _sim.knn_graph_ivf(rows, k=k, n_probe=n_probe,
                                       id_col=id_col, vec_col=vec_col,
                                       centroids=centroids,
                                       with_score=True, ordered=False)
            _overwrite_via_tmp(graph, graph_path)
        else:
            if not os.path.exists(index_path):
                # the converse loss is NOT recoverable: the index holds
                # the vectors and cannot be rebuilt from the graph
                # (scores aren't coordinates). Name the state instead
                # of poisoning every replay with a raw path error.
                raise RuntimeError(
                    f"stream_knn_graph_upsert: stored graph at "
                    f"{graph_path} exists but the index at "
                    f"{index_path} is missing — the index holds the "
                    f"vectors and cannot be rebuilt from the graph; "
                    f"restore it from backup, or delete the graph too "
                    f"to re-bootstrap from the next batch")
            old_graph = spark.read.parquet(graph_path)
            old_index = spark.read.parquet(index_path)
            # validate the FULL stored index once per stream; later
            # batches hand the operator the pinned width instead of
            # paying the O(index) uniformity aggregate again (r11)
            index_width = _pinned_index_width(old_index)
            ids = rows.select(id_col)
            # batch ids already in the index — ≤ batch-sized, pinned
            # once to drive the PER-ROW diagnosis below (r8 review: the
            # old any-id probes misread two states — see branches)
            present = (old_index.select(id_col)
                       .join(F.broadcast(ids), id_col, "left_semi")
                       .localCheckpoint())
            # graph membership must probe BOTH edge endpoints: a batch
            # whose vectors landed only as NEIGHBORS of old queries
            # (possible when their own probed cells were otherwise
            # empty) has no query_id rows, and a query-only probe would
            # misread a fully-applied batch as index-stranded, re-merge
            # it against the already-updated graph, and hand those
            # neighbors duplicate edges
            graph_ids = (old_graph.select(F.col("query_id")
                                          .alias(id_col))
                         .unionByName(old_graph.select(
                             F.col("neighbor_id").alias(id_col))))
            rows_eff, skip_append = rows, False

            def _diverged() -> RuntimeError:
                return RuntimeError(
                    f"stream_knn_graph_upsert: batch {bid} has ids in "
                    f"the stored graph but not the index — impossible "
                    f"under this sink's write order; the stores have "
                    f"diverged (manual intervention required)")

            if not present.isEmpty():
                fresh = rows.join(F.broadcast(present), id_col,
                                  "left_anti")
                if fresh.isEmpty():
                    # PER-ROW graph probe (r9 ADVICE, medium): ids in
                    # the index but absent from BOTH graph endpoints
                    # are stranded by a crash between the index append
                    # and the graph commit. The old ANY-id membership
                    # probe misread exactly one window: a MIXED batch
                    # (old + new ids under a fresh checkpoint) that
                    # appended its fresh ids and crashed before the
                    # graph overwrite — on replay all its ids are
                    # indexed and its OLD-generation ids match the
                    # graph, so the batch was declared applied and the
                    # fresh vectors never became graph queries (silent
                    # divergence from the full rebuild).
                    stranded = (ids.join(graph_ids, id_col, "left_anti")
                                .localCheckpoint())
                    if stranded.isEmpty():
                        # every batch id is in the graph: fully applied
                        # — crash landed in the data→marker gap; only
                        # the marker is stale
                        _commit_batch_marker(marker, bid)
                        return
                    # re-merge ONLY the stranded rows, through an index
                    # VIEW excluding them (exactly the pre-append
                    # state); their index rows landed before the crash,
                    # so the re-append is skipped. (A fully-applied
                    # vector that produced no edges AT ALL also reads
                    # as stranded — its re-merge is the identity, so
                    # the heal stays exact.)
                    rows_eff = (rows.join(F.broadcast(stranded), id_col,
                                          "left_semi").localCheckpoint())
                    ids = rows_eff.select(id_col)
                    old_index = old_index.join(F.broadcast(ids), id_col,
                                               "left_anti")
                    skip_append = True
                else:
                    # MIXED batch: some ids indexed, some genuinely
                    # new — only reachable by replaying an old feed
                    # under a FRESH checkpoint, where batch boundaries
                    # no longer match historical appends. The indexed
                    # ids are old corpus now; ingest ONLY the new rows
                    # (the old all-or-nothing diagnosis declared the
                    # whole batch applied and silently dropped the new
                    # vectors forever). Assumes prior checkpoint
                    # generations committed their data — the marker
                    # that proved it died with the old checkpoint.
                    rows_eff = fresh.localCheckpoint()
                    ids = rows_eff.select(id_col)
                    if _contains_any(graph_ids, ids, id_col):
                        raise _diverged()
            elif _contains_any(graph_ids, ids, id_col):
                raise _diverged()
            # the operator call validates against (and materializes its
            # candidate set from) the pre-append index view — it must
            # run before the append below, or the batch would collide
            # with its own index rows
            new_graph = _sim.knn_graph_ivf_incremental(
                None, old_graph, rows_eff, centroids, k=k,
                n_probe=n_probe, id_col=id_col, vec_col=vec_col,
                with_score=True, validate=validate,
                old_index=old_index, ordered=False,
                index_width_checked=index_width)
            if not skip_append:
                (_sim.ivf_index(rows_eff, centroids, n_probe, id_col,
                                vec_col)
                 .write.partitionBy("centroid_id").mode("append")
                 .parquet(index_path))
            _overwrite_via_tmp(new_graph, graph_path)
        # every branch that reaches here left the store at the
        # effective width (bootstrap wrote it; the others validated it
        # against the request) — pin it so no later batch re-scans
        pinned["width"] = min(n_probe, len(centroids))
        _commit_batch_marker(marker, bid)

    writer = (stream.writeStream
              .foreachBatch(apply_batch)
              .option("checkpointLocation", checkpoint))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
