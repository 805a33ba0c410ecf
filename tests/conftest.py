from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")
SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    import tempfile

    from dask_xgboost_spark.session import get_spark

    # local[N] and N shuffle partitions, N = session.default_parallelism()
    s = get_spark(
        app_name="dxs-tests",
        extra_conf={
            "spark.sql.warehouse.dir": tempfile.mkdtemp(prefix="dxs_wh_")
        },
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def duck(sf_dir):
    from tests.oracle import duck_con

    con = duck_con(sf_dir)
    yield con
    con.close()
