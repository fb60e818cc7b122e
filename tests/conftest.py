"""Shared pytest fixtures: one SparkSession per test session."""

from __future__ import annotations

import os
import pathlib
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def pytest_collection_modifyitems(config, items):
    """Deselect the ``slow`` sweep arms unless they were asked for: by
    any ``-m`` expression, or by naming their file on the command line
    (``pytest tests/test_production_shard.py`` runs every arm in it;
    ``pytest tests/`` keeps the default tier)."""
    if config.option.markexpr:
        return
    named = {
        pathlib.Path(config.invocation_params.dir, arg.split("::")[0]).resolve()
        for arg in config.args
    }
    slow = [
        item
        for item in items
        if item.get_closest_marker("slow") and item.path.resolve() not in named
    ]
    if slow:
        config.hook.pytest_deselected(items=slow)
        dropped = set(slow)
        items[:] = [item for item in items if item not in dropped]


@pytest.fixture(scope="session")
def spark():
    from s3_avro_repair_spark.session import get_session

    spark = get_session("pytest", master="local[8]", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck(sf_dir):
    import duckdb

    from tools.verify_local import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    yield con
    con.close()
