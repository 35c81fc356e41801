"""Event stream source + write-path semantics (SURVEY.md §3.3, §2.8).

The reference's event path is: generate id/created -> optionally skip
storage (``ephemeral``) -> write to one-or-both env stores -> publish
``notifications/<model>/<action>/<path>`` to MQTT
(``eventsAPI.ts:12-47``, ``generateApi.ts:335-366``).

Spark shape: an append-only ``events`` table is simultaneously a batch
table and a file-streaming source; the "broker" is the derived
notification-topic column that subscribers filter on (topics.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

ENVS = ("dev", "prod")

#: reference topic scheme: notifications/<model>/<action>/<id-or-path>
#: (ProtoModel.ts:145-154, eventsSchemas.ts:52-54)
TOPIC_FMT = "notifications/{model}/{action}/"


def read_event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-based Structured Streaming source over the events parquet.

    Schema comes from a batch peek (file sources need an explicit schema).
    The shipped files store ``ts`` as ``timestamp[us]`` (TimestampNTZType,
    converted below); a file written with a TIMESTAMP(NANOS) ``ts`` reads
    as long and is normalized exactly as the batch ``catalog.load_table``
    does, so stream and batch twins agree.
    """
    path = os.path.join(sf_dir, "events.parquet")
    schema = spark.read.parquet(path).schema
    if os.path.isdir(path):
        stream = spark.readStream.schema(schema).parquet(path)
    else:
        # file source needs a directory basePath; select just this table's
        # file(s) out of the shared sf_dir via the name glob
        stream = (spark.readStream.schema(schema)
                  .option("pathGlobFilter", os.path.basename(path))
                  .parquet(sf_dir))
    if isinstance(schema["ts"].dataType, T.LongType):
        stream = stream.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(stream.schema["ts"].dataType, T.TimestampNTZType):
        # watermarks/event-time require TIMESTAMP (LTZ); convert treating
        # the naive wall clock as UTC (session-timezone-independent, and
        # exactly the epoch_micros convention the batch twins use)
        from ..functions.core import epoch_micros
        stream = stream.withColumn(
            "ts", F.timestamp_micros(epoch_micros(stream, "ts")))
    return stream


def with_generated(df: DataFrame) -> DataFrame:
    """F10/F12 write-path generators: time-sortable ``id`` and ISO-8601
    ``created`` filled only where missing (``applyGenerators``,
    ProtoSchema.ts:21-33). Works on batch and streaming frames.

    BATCH frames are localCheckpoint-ed before returning: uuid()/now()
    re-evaluate per ACTION, so an unpinned frame fanned out to two
    consumers (store + publish via split_ephemeral, or a foreachBatch
    replay) would generate DIFFERENT ids per branch — the published
    notification would reference an id that does not exist in the store.
    The reference generates once per event object in JS; the pin is the
    Spark equivalent. STREAMING frames cannot checkpoint — apply this
    inside ``foreachBatch`` (where the micro-batch is a batch frame), as
    ``stream_keyed_upsert`` does, so the generated values are pinned
    before any fan-out."""
    # render in UTC before appending the literal 'Z' designator —
    # date_format renders in the SESSION timezone, so a non-UTC session
    # would stamp a wall-clock time with a UTC marker (an instant off by
    # the session offset; toISOString() in the reference is always UTC)
    tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
    utc_now = F.to_utc_timestamp(F.current_timestamp(), tz)
    gen_id = F.concat(
        F.date_format(utc_now, "yyyyMM-ddHHmm-ssSSS"),
        F.lit("-"), F.substring(F.uuid(), 1, 8))
    iso_now = F.date_format(utc_now, "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")
    out = df
    if "id" not in df.columns:
        out = out.withColumn("id", gen_id)
    else:
        out = out.withColumn("id", F.coalesce(F.col("id"), gen_id))
    if "created" not in df.columns:
        out = out.withColumn("created", iso_now)
    else:
        out = out.withColumn("created", F.coalesce(F.col("created"), iso_now))
    # write-path op: the pin's eager cost is one pass over the batch
    # being written, which the write was about to pay anyway
    if not df.isStreaming:
        out = out.localCheckpoint()
    return out


def route_envs(df: DataFrame, env_col: str = "environment") -> DataFrame:
    """U2 multi-env fan-out: ``environment`` in {dev, prod} routes to one
    store; ``*`` writes the row to BOTH (``eventsAPI.ts:18-36``,
    ``generateApi.ts:343-350``). Modeled as an ``env`` partition column —
    the ``*`` row is duplicated via explode, then writers
    ``partitionBy('env')`` and readers filter one partition."""
    envs = F.when(F.col(env_col) == "*", F.array(*[F.lit(e) for e in ENVS])) \
        .otherwise(F.array(F.col(env_col)))
    return (df.withColumn("env", F.explode(envs))
            .drop(env_col))


def split_ephemeral(df: DataFrame, flag_col: str = "ephemeral"
                    ) -> tuple[DataFrame, DataFrame]:
    """T3: ``ephemeral: true`` events are published but never stored
    (``skipStorage``, eventsAPI.ts:12-17). Returns (to_store, to_publish):
    publish sees everything, storage sees only non-ephemeral rows."""
    flag = F.coalesce(F.col(flag_col).cast("boolean"), F.lit(False))
    return df.filter(~flag), df


def cdc_topics(df: DataFrame, model: str, action_col: str = "action",
               key_col: str = "id") -> DataFrame:
    """T4 change-notification stream: every mutation publishes
    ``notifications/<model>/<action>/<id>`` with the row as payload
    (``generateApi.ts:124-136``). Batch twin of Delta CDF + a topic column."""
    topic = F.concat(
        F.lit("notifications/"), F.lit(model), F.lit("/"),
        F.col(action_col), F.lit("/"), F.col(key_col).cast("string"))
    return df.withColumn("topic", topic)


def write_event_store(df: DataFrame, path: str,
                      date_col: str = "ts", mode: str = "append") -> None:
    """Physical layout of the events store at scale: partitioned by
    (env, event_date). Env reads touch one subtree (the reference's
    dev/prod split of LevelDB paths, ``eventsAPI.ts:55-60``), and
    time-ranged queries prune to the matching date partitions — the two
    predicates every event query carries. Within a partition, files stay
    time-ordered by write order (the orderedInsert append analog).

    Default mode is APPEND — the store is append-only like the reference's
    event log; each batch adds files under its partitions without touching
    earlier days. Pass mode='overwrite' only for a full rebuild (static
    partition overwrite wipes the whole path)."""
    (df.withColumn("event_date", F.to_date(F.col(date_col)))
     .write.mode(mode)
     .partitionBy("env", "event_date")
     .parquet(path))


def read_event_store(spark, path: str, env: str | None = None,
                     date_from: str | None = None,
                     date_to: str | None = None) -> DataFrame:
    """Read with the env/date predicates expressed so they prune partitions
    (asserted in tests via PartitionFilters in the scan)."""
    df = spark.read.parquet(path)
    if env is not None:
        df = df.filter(F.col("env") == env)
    if date_from is not None:
        df = df.filter(F.col("event_date") >= date_from)
    if date_to is not None:
        df = df.filter(F.col("event_date") <= date_to)
    return df
