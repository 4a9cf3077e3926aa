from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


@pytest.fixture(scope="session")
def spark():
    from healthcare_dbt_datamart_spark.session import get_spark

    s = get_spark("tests", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture
def checkpoint_dir(spark, tmp_path):
    """Set a checkpoint dir on the shared session for one test, so every
    ``truncate_lineage`` cut in it is a reliable ``checkpoint``; cleared
    on teardown (Spark has no public unset), so later tests run with the
    ``localCheckpoint`` default again. Yields the dir's path."""
    sc = spark.sparkContext
    sc.setCheckpointDir(str(tmp_path))
    try:
        yield tmp_path
    finally:
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(
            sc._jvm.scala.Option.apply(None)
        )
