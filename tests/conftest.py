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
