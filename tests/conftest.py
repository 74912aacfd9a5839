from __future__ import annotations

import sys
from pathlib import Path

import pytest

# the repository this conftest belongs to, wherever it is checked out
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


@pytest.fixture(scope="session")
def spark():
    import pathwaydataframework_spark as pw

    s = pw.get_spark(app_name="tests", cpus=8, shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    # Default sf0.001 keeps the suite fast; override to rehearse the driver's
    # sf0.01 CORRECTNESS gate locally (e.g. SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.01).
    import os

    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
