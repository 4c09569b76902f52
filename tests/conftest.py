import os
import sys
import time
from collections import defaultdict

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")

# Tier-1 runs the whole suite under a 2670 s timeout; failing at 60% of
# it keeps the suite's growth visible long before the timeout cuts a run.
WALL_LIMIT_S = 0.6 * 2670

_started = time.monotonic()
_durations: dict[str, float] = defaultdict(float)

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


@pytest.fixture(scope="session")
def spark():
    from explorer_spark.session import get_spark

    return get_spark()


@pytest.fixture(scope="session")
def duck():
    """DuckDB connection with the oracle tables registered as views,
    mirroring the driver's setup."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(SF_DIR_ORACLE, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def pytest_runtest_logreport(report):
    _durations[report.nodeid] += report.duration


def pytest_sessionfinish(session, exitstatus):
    """Fail the run when the suite's wall time passes WALL_LIMIT_S."""
    wall = time.monotonic() - _started
    if wall <= WALL_LIMIT_S:
        return
    slowest = sorted(_durations.items(), key=lambda kv: kv[1], reverse=True)[:5]
    lines = [f"suite wall time {wall:.0f} s exceeds the {WALL_LIMIT_S:.0f} s guard; slowest tests:"]
    lines += [f"  {d:7.1f} s  {nodeid}" for nodeid, d in slowest]
    reporter = session.config.pluginmanager.get_plugin("terminalreporter")
    reporter.write_line("\n" + "\n".join(lines), red=True)
    session.exitstatus = pytest.ExitCode.TESTS_FAILED
