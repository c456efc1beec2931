from __future__ import annotations

import json
import os
import subprocess
import time

import duckdb
import pytest

from sqlite_to_clickhouse_spark.io import TABLES
from sqlite_to_clickhouse_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("sqlite_to_clickhouse_spark-tests")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck(sf_dir):
    """DuckDB connection with the fixture tables registered as views,
    mirroring the driver's oracle environment (__spark_entry__.py docstring)."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    yield con
    con.close()


# The marker groups a plain run deselects (pytest.ini).  A run that selects
# any of them leaves one small JSON record of its outcome under
# .heavy-runs/ (gitignored), so a claim that a heavy group passed can be
# checked against the record of the run.
_HEAVY_MARKERS = ("spark_heavy", "mutant_sweep", "mutant_keycol")
_HEAVY_RUNS = os.path.join(os.path.dirname(os.path.dirname(__file__)), ".heavy-runs")


def pytest_sessionfinish(session, exitstatus):
    if not any(i.get_closest_marker(m) for i in session.items for m in _HEAVY_MARKERS):
        return
    stats = session.config.pluginmanager.get_plugin("terminalreporter").stats
    try:
        head = subprocess.run(
            ["git", "rev-parse", "HEAD"], capture_output=True, text=True,
            cwd=os.path.dirname(_HEAVY_RUNS), check=True,
        ).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        head = None
    record = {
        "markexpr": session.config.option.markexpr,
        **{k: len(stats.get(k, [])) for k in ("passed", "failed", "skipped", "error")},
        "exitstatus": int(exitstatus),
        "head": head,
        "finished": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    os.makedirs(_HEAVY_RUNS, exist_ok=True)
    name = f"{record['finished'].replace(':', '')}-{os.getpid()}.json"
    with open(os.path.join(_HEAVY_RUNS, name), "w") as fh:
        json.dump(record, fh)
