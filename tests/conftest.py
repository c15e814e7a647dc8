from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from parquet_importer_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="pytest", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    # Default parity scale matches the driver's verification scale
    # (sf0.01); sf0.001 stays available for explicitly-smoke tests.
    return os.environ.get("PARITY_SF_DIR", SF_ORACLE)


@pytest.fixture(scope="session")
def duckdb_con(sf_dir):
    """DuckDB connection with the same views the driver registers."""
    from tests.parity import duckdb_views

    con = duckdb_views(sf_dir)
    yield con
    con.close()
