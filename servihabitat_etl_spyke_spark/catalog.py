"""Table catalog: named parquet tables under a scale-factor directory.

The reference's stores are key->JSON maps behind a uniform
``{iterator,get,put,del}`` contract (SURVEY.md §1.3); here every table is a
parquet dataset and the "contract" is the DataFrame. Loading is lazy and
schema comes from parquet footers (no inference cost); Catalyst pushes
filters/projections into the scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


#: columns per table that a writer may store as parquet TIMESTAMP(NANOS):
#: such a column reads as long via ``nanosAsLong`` and is normalized back
#: to a microsecond TimestampType. The shipped ``events.parquet`` files
#: store ``ts`` as ``timestamp[us]`` (read as TimestampNTZType, untouched
#: here); the entry covers event files written with nanosecond
#: timestamps. Any table that gains a nanos column MUST be registered
#: here, or its column is silently served as a raw long (the flag is
#: session-global).
NANOS_TS_COLUMNS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one named table. Parquet scan → pushdown-friendly.

    The shipped ``events`` parquet files store ``ts`` as ``timestamp[us]``
    without a zone, which Spark reads as TimestampNTZType; it is served
    as read. A file that stores a NANOS_TS_COLUMNS column as
    TIMESTAMP(NANOS), which Spark's vectorized reader rejects, reads as
    long (``session.get_spark`` sets ``nanosAsLong`` for the whole
    session), and this normalizes it to a microsecond TimestampType
    column — matching how DuckDB coerces TIMESTAMP_NS to TIMESTAMP. Other
    parquet reads in the session also see nanos timestamps as longs;
    register such columns in NANOS_TS_COLUMNS.
    """
    df = spark.read.parquet(table_path(sf_dir, name))
    for col in NANOS_TS_COLUMNS.get(name, ()):
        if isinstance(df.schema[col].dataType, T.LongType):
            df = df.withColumn(
                col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    return df


def spread(df: DataFrame, key: str) -> DataFrame:
    """Hash-distribute rows across the full cluster width before CPU-heavy
    per-row work (shingling, regex featurization, media decode). Small
    corpora often arrive as one or few parquet files — one partition per
    file would serialize the compute on a handful of tasks; one cheap
    shuffle of the raw rows buys full parallelism for everything
    downstream. Keyed so later per-key aggregations are co-partitioned.

    NOTE: do NOT gate this on ``df.rdd.getNumPartitions()`` — accessing
    ``.rdd`` forces AQE to materialize the upstream query stages eagerly
    (measured 3-10x blowups on plans with joins upstream). On a real
    cluster defaultParallelism is the full executor-core count, so the
    repartition is width-preserving there; callers with already-wide
    inputs should simply skip spread()."""
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, key)
