from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def spark():
    from jsonld_spark.session import get_spark
    s = get_spark("jsonld_spark_tests", master="local[4]",
                  shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


def pytest_terminal_summary(terminalreporter):
    # the W3C conformance suites skip silently without their fixtures;
    # say so in the summary, with the number of skipped tests, so a
    # green run is not mistaken for a checked one
    from .fixture_utils import fixtures_available
    skipped = len(terminalreporter.stats.get("skipped", []))
    state = "present" if fixtures_available() \
        else "absent — conformance suites skipped"
    terminalreporter.write_line(
        f"W3C fixtures: {state}; {skipped} tests skipped in this run")
