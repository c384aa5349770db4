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


@pytest.fixture
def is_cached():
    """Whether a frame's plan is cached, asked through its JVM handle
    (``df._jdf``), which outlives the Python frame — so a test can keep
    the handle, drop the frame, collect, and check the cache is gone."""

    def check(jdf) -> bool:
        level = jdf.storageLevel()
        return level.useMemory() or level.useDisk()

    return check
