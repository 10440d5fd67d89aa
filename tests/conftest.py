from __future__ import annotations

import os
import sys

import pytest

# this checkout's package, whichever directory the suite runs from
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from volltextextraktion_selenium_md_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(master="local[8]", shuffle_partitions=8, app_name="tests")
    yield s
    s.stop()
