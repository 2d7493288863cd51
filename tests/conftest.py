"""Shared fixtures: one local SparkSession + a DuckDB connection with the
driver's table views registered (mirroring the verification driver's setup).

Tests default to sf0.001 for speed; set BDAMP_TEST_SF_DIR to widen.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_DIR not in sys.path:
    sys.path.insert(0, REPO_DIR)

from big_data_analytics_mini_projects_spark.session import get_spark  # noqa: E402
from big_data_analytics_mini_projects_spark.sources.tables import TABLE_NAMES  # noqa: E402

SF_DIR = os.environ.get("BDAMP_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    s = get_spark("bdamp-tests", master="local[4]", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{SF_DIR}/{name}.parquet')"
        )
    yield con
    con.close()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def cc_paths(monkeypatch):
    """Iterate to run a connected-components check on each path in turn:
    a large driver bound keeps every graph on the driver's union-find, a
    bound of 0 sends it through the distributed large-star/small-star
    rounds."""
    from big_data_analytics_mini_projects_spark.operators import similarity

    def paths():
        for name, bound in (("driver", 1 << 30), ("distributed", 0)):
            monkeypatch.setattr(similarity, "_DRIVER_MAX_EDGES", bound)
            yield name

    return paths()
