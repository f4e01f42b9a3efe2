import tempfile

import duckdb
import pytest

from osm_processing_pipeline_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


@pytest.fixture(scope="session", autouse=True)
def _session_tempdir(tmp_path_factory):
    """Code that stores under ``tempfile.gettempdir()`` (q38/q41's checkpoint
    store) writes under this session's own directory, so two test runs on
    one host never share it."""
    tempfile.tempdir = str(tmp_path_factory.mktemp("tmp"))


@pytest.fixture(scope="session")
def spark():
    return get_spark("osm-spark-tests")


def duck(sf_dir: str = SF_SMOKE) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


@pytest.fixture(scope="session")
def duck_smoke():
    return duck(SF_SMOKE)
