"""S10: virtual tables — non-DB backends exposed through the same table
contract.

The reference mounts code files (``objectsAPI.ts:119-204``), data
directories (``databasesAPI.ts:47-75``) and live state-machine instances
(``stateMachinesApi.ts:12-45``) behind the LevelDB ``{iterator,get,put,
del}`` interface. Spark-first: these are *metadata* relations — tiny,
driver-built via ``createDataFrame`` from a Python generator, then usable
in joins/filters like any other table (SURVEY.md §7: "keep them
driver-side and tiny; they're metadata, not data").
"""

from __future__ import annotations

import os
from typing import Iterable, Mapping

from pyspark.sql import DataFrame, SparkSession


def files_table(spark: SparkSession, root: str,
                suffixes: tuple[str, ...] = ()) -> DataFrame:
    """Code/data files as rows (the ``objects`` virtual table): one row per
    file under ``root`` with name, relative path, and size."""
    def walk() -> Iterable[tuple[str, str, int]]:
        for dirpath, _dirs, names in os.walk(root):
            # os.walk honors in-place dirs mutation: sorted subdirs make
            # the row order machine-independent (scandir order is
            # filesystem-arbitrary), matching the sorted(names) intent
            _dirs.sort()
            for name in sorted(names):
                if suffixes and not name.endswith(suffixes):
                    continue
                full = os.path.join(dirpath, name)
                yield (name, os.path.relpath(full, root),
                       os.path.getsize(full))
    return spark.createDataFrame(
        list(walk()), "name string, relpath string, n_bytes long")


def catalog_table(spark: SparkSession, sf_dir: str,
                  names: Iterable[str]) -> DataFrame:
    """Datasets-as-rows (the ``databases`` virtual table): one row per
    registered table with its column count — catalog introspection over
    parquet footers, no data scan."""
    rows = []
    for name in names:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        n_cols = len(spark.read.parquet(path).schema)
        rows.append((name, n_cols))
    return spark.createDataFrame(rows, "table_name string, n_columns int")


def registry_table(spark: SparkSession,
                   instances: Mapping[str, str]) -> DataFrame:
    """Live instances as rows (the ``stateMachines`` virtual table): the
    in-memory registry of machine name -> current state, queryable like a
    table (and filterable by state, stateMachinesApi.ts:32-45)."""
    return spark.createDataFrame(
        sorted(instances.items()), "instance string, state string")
