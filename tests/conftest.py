"""Shared fixtures: one SparkSession per test session + DuckDB oracle."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mapreduce_google_spark.session import get_spark  # noqa: E402
from mapreduce_google_spark.io import TABLES  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(
        app_name="mgs-tests",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]",
        shuffle_partitions=8,
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    """DuckDB connection with the star-schema tables registered as views,
    mirroring the driver's oracle harness."""
    con = duckdb.connect()
    for name in TABLES:
        path = os.path.join(SF_DIR, f"{name}.parquet")
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
        )
    yield con
    con.close()


@pytest.fixture
def store_root_in_tmp_path(tmp_path, monkeypatch):
    """Point ``tempfile.tempdir`` at ``tmp_path``, so the stores and
    stagings a test derives from a corpus it writes under ``tmp_path``
    land in ``io.shared_store_root`` under ``tmp_path`` too. Each such
    corpus has its own ``io.cache_tag``; under the user's real root
    nothing would ever adopt or delete what they leave."""
    import tempfile

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    return tmp_path
