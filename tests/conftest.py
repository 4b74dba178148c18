import os
import sys

import pytest

from deltaforge_spark.session import get_spark

# tools/ on the path: tests share tools/check.py's storage_counts, the
# helper behind its leak gate
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    # overridable so the plan-shape/invariance suites can run against a
    # scaled dataset (the sf1 soak runs them at 1000x the default)
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
