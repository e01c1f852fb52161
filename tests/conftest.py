import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kdb_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    return get_spark("kdb_spark-tests", cpus=4, driver_memory="4g")


SF_DIR = "/root/testdata/sf0.001"
