from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from data_ingestion_auto_spark.session import get_session

    # managed tables land in a per-run directory, not the checkout
    warehouse = str(tmp_path_factory.mktemp("warehouse"))
    s = get_session(
        "tests", shuffle_partitions=8, extra_conf={"spark.sql.warehouse.dir": warehouse}
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck(sf_dir):
    from tools.parity import duck_connection

    return duck_connection(sf_dir)
