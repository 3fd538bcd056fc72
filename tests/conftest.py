"""Shared pytest fixtures: one local SparkSession + DuckDB oracle per
test session."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from conversation_with_vector_db_spark.session import (  # noqa: E402
    BASE_TABLES,
    get_spark,
    table_path,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# Two-tier suite (VERDICT r11 #1): the full suite outgrew the driver's
# verify budget (762 tests, ~31 min — the r11 gate truncated at ~84%
# with zero failures). The DEFAULT tier keeps every operator family
# covered (all unit/feature tests + the full DRIVER-tier oracle
# parity); the HEAVY tier adds the redundant-by-design long runs —
# full-registry parity over the non-driver variants, pathological/empty
# corpus stress sweeps, hypothesis property replays, randomized
# op-sequence walks, and the layout-determinism lifecycle variants.
# Run it with CVDB_FULL_TESTS=1.
FULL_TESTS = os.environ.get("CVDB_FULL_TESTS") == "1"


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "heavy: long-running redundant-coverage test; skipped unless "
        "CVDB_FULL_TESTS=1 (the default tier must fit the driver's "
        "verify budget)",
    )


def pytest_collection_modifyitems(config, items):
    if FULL_TESTS:
        return
    skip = pytest.mark.skip(
        reason="heavy tier: set CVDB_FULL_TESTS=1 to run"
    )
    for item in items:
        if "heavy" in item.keywords:
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="cvdb-spark-tests", master="local[4]", shuffle_partitions=8
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in BASE_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{table_path(SF_DIR, t)}'"
        )
    yield con
    con.close()
