import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from icebergplus_spark.session import get_spark

    # local[min(nproc, 8)] whatever SPARK_GRAFT_CPUS says: the suite's
    # tables are tiny, so slots past 8 add per-task overhead, not speed
    cores = min(len(os.sched_getaffinity(0)), 8)
    s = get_spark("icebergplus-tests", master=f"local[{cores}]", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


# -- per-file wall time ------------------------------------------------------
# Each test file's wall time (setup + call + teardown of its tests) is
# printed at session end, slowest first; session fixtures (the Spark
# start) count toward the first file that uses them. tests/BUDGET.json holds each
# file's time from one full Tier-1 run; a file over 1.5x that ceiling
# gets a warning line, never a failure.

BUDGET_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BUDGET.json")
BUDGET_SLACK = 1.5
_file_seconds: dict[str, float] = {}


def pytest_runtest_logreport(report):
    path = report.nodeid.split("::", 1)[0]
    _file_seconds[path] = _file_seconds.get(path, 0.0) + report.duration


def pytest_terminal_summary(terminalreporter):
    import json

    if not _file_seconds:
        return
    try:
        with open(BUDGET_PATH) as f:
            budget = json.load(f)["seconds"]
    except (OSError, ValueError, KeyError):
        budget = {}
    tr = terminalreporter
    tr.section("wall time per test file")
    for path, secs in sorted(_file_seconds.items(), key=lambda kv: -kv[1]):
        ceiling = budget.get(path)
        tr.write_line(
            f"{secs:8.1f} s  {path}"
            + (f"  (ceiling {ceiling:.1f} s)" if ceiling is not None else "")
        )
    for path, secs in sorted(_file_seconds.items()):
        ceiling = budget.get(path)
        if ceiling is not None and secs > BUDGET_SLACK * ceiling:
            tr.write_line(
                f"WARNING: {path} took {secs:.1f} s, over {BUDGET_SLACK}x "
                f"its ceiling of {ceiling:.1f} s in tests/BUDGET.json",
                yellow=True,
            )
