from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from codeindex_spark.session import get_spark

    # get_spark defaults to a 32g driver heap; a JVM that size outgrows
    # a 15 GB host partway through the suite and is OOM-killed
    os.environ.setdefault("SPARK_DRIVER_MEM", "5g")
    s = get_spark(app_name="codeindex-tests", cores=4, shuffle_partitions=8)
    yield s
    s.stop()
