import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pywrangler_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # the same session config users get, sized down for the suite
    session = get_spark(
        "pywrangler_spark-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.driver.memory": "4g"},
    )
    session.sparkContext.setLogLevel("ERROR")
    yield session
