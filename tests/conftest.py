from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

_FAST_PROFILE_NOTICE = (
    'FAST DEV PROFILE (-m "not slow" from pytest.ini): the slow '
    "suites — the full-registry oracle replica, streaming replay, and "
    "batch benchmark gate — were DESELECTED, not run. The full suite is: "
    'python -m pytest tests/ -q -m "slow or not slow"'
)


def pytest_report_header(config):
    if config.option.markexpr == "not slow":
        return _FAST_PROFILE_NOTICE


def pytest_terminal_summary(terminalreporter, exitstatus, config):
    """A green fast run must not read as a green FULL run — repeat the
    deselection notice where eyes land (after the pass/fail line)."""
    if config.option.markexpr == "not slow":
        terminalreporter.section("fast profile", sep="=")
        terminalreporter.write_line(_FAST_PROFILE_NOTICE)


@pytest.fixture(scope="session")
def spark():
    from udacity_dsnd_projects_spark.session import get_spark

    s = get_spark("engine-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck(sf_dir):
    """DuckDB connection with the corpus registered as views — mirrors
    the driver's oracle setup."""
    import duckdb

    from udacity_dsnd_projects_spark.schemas import CORPUS_TABLES

    con = duckdb.connect()
    for t in CORPUS_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    yield con
    con.close()
