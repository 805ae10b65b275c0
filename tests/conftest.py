import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hadoop_distributed_dynamic_file_system_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    spark = get_spark("tests", master="local[8]", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMALL



# The suite keeps no skipped test: a run that would pass with one fails
# and names it.
def _skipped(config) -> list[str]:
    reporter = config.pluginmanager.get_plugin("terminalreporter")
    return [r.nodeid for r in reporter.stats.get("skipped", [])] if reporter else []


def pytest_sessionfinish(session, exitstatus):
    if exitstatus == pytest.ExitCode.OK and _skipped(session.config):
        session.exitstatus = pytest.ExitCode.TESTS_FAILED


def pytest_terminal_summary(terminalreporter, config):
    if skipped := _skipped(config):
        terminalreporter.section("skipped tests fail the run")
        for nodeid in skipped:
            terminalreporter.write_line(nodeid)
