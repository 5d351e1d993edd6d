from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from ingestion_pipeline_spark.session import get_spark

    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def n_persisted(spark):
    """How many RDDs the session holds persistent, checkpoint blocks
    included: ``n_persisted()``."""
    return lambda: spark.sparkContext._jsc.sc().getPersistentRDDs().size()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return "/root/testdata/sf0.001"
