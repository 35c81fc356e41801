from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from servihabitat_etl_spyke_spark.plans import listquery as LQ  # noqa: E402
from servihabitat_etl_spyke_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=min(8, os.cpu_count() or 8))
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture()
def kill_next_parquet_write(monkeypatch, tmp_path):
    """Arm ``DataFrameWriter.parquet`` so that its next call leaves, at its
    target, what a driver killed mid-write leaves there, then raises:

    - ``"temporary"``: only Spark's ``_temporary/`` (killed before job
      commit);
    - ``"partial"``: one of two part files and no ``_SUCCESS`` (killed
      partway through job commit).

    Later calls write normally."""
    import shutil

    from pyspark.sql.readwriter import DataFrameWriter

    real = DataFrameWriter.parquet

    def arm(how: str) -> None:
        def killed(writer, path, *args, **kwargs):
            monkeypatch.setattr(DataFrameWriter, "parquet", real)
            if how == "temporary":
                os.makedirs(os.path.join(path, "_temporary", "0"),
                            exist_ok=True)
            else:
                side = str(tmp_path / "killed_write")
                df = writer._df
                real(df.repartitionByRange(2, df.columns[0])
                     .write.mode("overwrite"), side)
                parts = sorted(f for f in os.listdir(side)
                               if f.startswith("part-"))
                assert len(parts) == 2
                os.makedirs(path, exist_ok=True)
                shutil.copy(os.path.join(side, parts[0]), path)
            raise RuntimeError("simulated driver kill during a parquet write")

        monkeypatch.setattr(DataFrameWriter, "parquet", killed)

    return arm


class ListPath:
    """One way to answer a list query: ``"spark"`` runs the Spark plan
    (``list_query`` / ``list_page``); ``"arrow"`` runs the driver-side
    evaluator over the relation's rows collected with ``toArrow()`` and,
    where it declines, the Spark plan, as ``Engine`` does. ``declined``
    counts those fallbacks."""

    def __init__(self, name: str):
        self.name = name
        self.declined = 0

    def _run(self, spark_fn, arrow_fn, df, model, params):
        if self.name == "spark":
            return spark_fn(df, model, params)
        rel = LQ.ArrowPage(df.sparkSession, df.toArrow(), df.schema)
        try:
            return arrow_fn(rel, model, params)
        except LQ.Declined:
            self.declined += 1
            return spark_fn(df, model, params)

    def list(self, df, model, params):
        return self._run(LQ.list_query, LQ.arrow_list_query, df, model,
                         params)

    def page(self, df, model, params):
        return self._run(LQ.list_page, LQ.arrow_list_page, df, model, params)


@pytest.fixture(scope="session")
def list_paths():
    """A factory of fresh ``[ListPath("spark"), ListPath("arrow")]``: a
    list-query test runs each of its cases through both."""
    return lambda: [ListPath("spark"), ListPath("arrow")]
