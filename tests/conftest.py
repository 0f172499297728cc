from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import os

SF_SMOKE = "/root/testdata/sf0.001"
# override to run the oracle suite at another scale factor, e.g.
# SPARK_GRAFT_TEST_SF=/root/testdata/sf0.1 (verified green at 0.001/0.01/0.1)
SF_CORRECT = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    from data_pipeline_spark.session import get_spark

    # override to prove results are partitioning-independent, e.g.
    # SPARK_GRAFT_TEST_SHUFFLE=3 (oracle suite verified at 3, 8 and 64)
    n = int(os.environ.get("SPARK_GRAFT_TEST_SHUFFLE", "8"))
    s = get_spark("tests", shuffle_partitions=n)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    yield con
    con.close()
