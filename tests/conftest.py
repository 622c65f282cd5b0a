import os
import sys
import tempfile
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from greenmask_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")

#: per-test duration log. --durations prints only when the session ends,
#: so a run killed by its timeout never shows it; this file gets one
#: "nodeid duration outcome" line as each test finishes (setup + call +
#: teardown), appended under the first $SPARK_LOCAL_DIRS entry, else the
#: pytest tmp root. Each session starts with a "# session" line.
DURATIONS_LOG = "pytest-durations.log"
_log_path = None
_running: dict[str, list] = {}


def pytest_sessionstart(session):
    global _log_path
    root = os.environ.get("SPARK_LOCAL_DIRS", "").split(",")[0]
    if not root:
        factory = getattr(session.config, "_tmp_path_factory", None)
        root = str(factory.getbasetemp()) if factory else tempfile.gettempdir()
    os.makedirs(root, exist_ok=True)
    _log_path = os.path.join(root, DURATIONS_LOG)
    with open(_log_path, "a") as f:
        f.write(f"# session {time.strftime('%Y-%m-%dT%H:%M:%S')} "
                f"pid {os.getpid()}\n")


def pytest_runtest_logreport(report):
    acc = _running.setdefault(report.nodeid, [0.0, "passed"])
    acc[0] += report.duration
    if acc[1] == "passed" and not report.passed:
        acc[1] = "error" if report.failed and report.when != "call" \
            else report.outcome
    if report.when == "teardown" and _log_path:
        dur, outcome = _running.pop(report.nodeid)
        with open(_log_path, "a") as f:
            f.write(f"{report.nodeid} {dur:.2f}s {outcome}\n")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("greenmask-spark-tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def tables(spark, sf_dir):
    from greenmask_spark.session import load_tables

    return load_tables(spark, sf_dir)
