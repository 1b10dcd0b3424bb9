from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REFERENCE = "/root/reference"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CF_LOG = f"{REFERENCE}/testdata/cf_log.txt"
CF_LOG2 = f"{REFERENCE}/testdata/cf_log2.txt"
FIXTURES = f"{REFERENCE}/testdata/fixtures"
CONFIGS = f"{REPO}/configs"

SOURCE1 = "logs/EMLARXS9EXAMPLE.2019-12-01-22.RT4KCN4SGK9.gz"
SOURCE2 = "logs/EMLARXS9EXAMPLE.2019-12-01-22.RT3KCN4SGK9.gz"


@pytest.fixture(scope="session")
def spark():
    from cflog2otel_spark.session import get_spark

    s = get_spark(master="local[4]", app_name="tests", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def cf_fixture_df(spark):
    """The reference's 6-line cf_log.txt as a tokenized DataFrame."""
    from cflog2otel_spark.sources.tokenized import read_cf_log_file, tokenized_df_from_lines

    _, lines = read_cf_log_file(CF_LOG)
    return tokenized_df_from_lines(spark, lines, SOURCE1).cache()


def pytest_terminal_summary(terminalreporter):
    """Without /root/reference, name the tests that fail only for that
    reason (their failure text names the missing path) on one line, and
    any other failures on a second, so a run shows whether its failing set
    is exactly the reference-absent set."""
    if os.path.isdir(REFERENCE):
        return
    stats = terminalreporter.stats
    failed = stats.get("failed", []) + stats.get("error", [])
    absent = sorted({r.nodeid for r in failed if REFERENCE in str(r.longrepr)})
    other = sorted({r.nodeid for r in failed} - set(absent))
    terminalreporter.write_line(
        f"{len(absent)} tests fail only because {REFERENCE} is absent: "
        + (" ".join(absent) or "(none)")
    )
    if other:
        terminalreporter.write_line(f"{len(other)} tests fail for other reasons: {' '.join(other)}")
