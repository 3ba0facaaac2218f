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
    # say so in the summary so a green run is not mistaken for a checked one
    from .fixture_utils import fixtures_available
    if not fixtures_available():
        terminalreporter.write_line(
            "W3C fixtures: absent — conformance suites skipped")
