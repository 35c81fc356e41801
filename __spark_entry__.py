"""Driver contract for the spark-graft engine (PySpark target).

``entry(spark)`` is a smoke check; each ``queries()[name]`` runs at a
given scale factor and is compared against the matching
``oracle_sql()[name]`` via DuckDB (row count + schema +
order-insensitive value hash; mirrored by ``tests/test_oracle_parity.py``).

Implementation lives in ``servihabitat_etl_spyke_spark/``; this module is a
thin re-export of its query catalog, in registration order.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from servihabitat_etl_spyke_spark import queries as _catalog


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1-style pricing summary) on sf0.001."""
    return _catalog.q1_pricing_summary(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return dict(_catalog.QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query (omitted => rows-only check)."""
    return dict(_catalog.ORACLES)
