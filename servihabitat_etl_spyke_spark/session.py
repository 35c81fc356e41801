"""SparkSession factory tuned for this engine.

Local test profile: one JVM, N threads. The config choices are the ones that
also matter on a real cluster:

- AQE on (runtime coalescing, skew-join splitting) so plans self-correct at
  100 TB without hand-tuned partition counts.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a cluster this
  is superseded by AQE's coalescing from a high initial value.
- Arrow enabled for every pandas interchange (the only Python-side hot paths
  we allow are vectorized pandas UDFs).
- Session timezone pinned to UTC so results are reproducible and comparable
  against the DuckDB oracle (DuckDB timestamps are UTC-naive).
- ``nanosAsLong`` on, so a parquet read of a file with a TIMESTAMP(NANOS)
  column works (Spark's reader rejects the type otherwise); see
  ``catalog.NANOS_TS_COLUMNS``. The shipped ``events.parquet`` files
  store ``ts`` as ``timestamp[us]``, which Spark reads as
  TimestampNTZType without it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def _default_driver_memory() -> str:
    """Half the host's ``MemTotal`` (``/proc/meminfo``), capped at 48g; 48g
    where the host size is unknown. A driver heap allowed to grow past
    the host's memory ends in an OOM kill, not a faster job."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return f"{min(48 * 1024, int(line.split()[1]) // 2048)}m"
    except (OSError, ValueError, IndexError):
        pass
    return "48g"


def get_spark(app_name: str = "servihabitat_etl_spyke_spark",
              cpus: int | None = None) -> SparkSession:
    """Build (or reuse) the tuned SparkSession."""
    n = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM")
                or _default_driver_memory())
        .config("spark.ui.enabled", "false")
        # the stage-progress bar writes \r-spam to stdout, which corrupts
        # single-line JSON protocols (the bench driver reads a stdout tail)
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # parquet TIMESTAMP(NANOS) columns read as long; catalog.load_table
        # turns the registered ones back into timestamps
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
