"""Registry-wide cache-lifetime contract.

Every cache a query persists is pinned to the query's result
(``util.persist`` + ``util.keep_alive``), so dropping the result and
collecting must leave Spark's CacheManager empty — with no
``clearCache()`` anywhere. A query that fails here leaks a cache into
the next user's job on a shared session.
"""

import gc

import pytest

from pywrangler_spark.queries import QUERIES

SF = "/root/testdata/sf0.01"


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_dropped_result_leaves_no_cache(spark, name):
    df = QUERIES[name](spark, SF)
    df.write.format("noop").mode("overwrite").save()
    del df
    gc.collect()
    assert _cache_empty(spark), f"{name} left a persisted frame behind"
