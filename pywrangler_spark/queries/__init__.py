"""Named query registry — the driver-facing catalog.

Every implemented operator/query from SURVEY.md §2 registers here as a
``(spark, sf_dir) -> DataFrame`` callable plus (where SQL-expressible) a
DuckDB oracle SQL string over the same parquet tables. ``__spark_entry__``
re-exports this registry.
"""

from __future__ import annotations

from typing import Callable, Dict, Optional

from pyspark.sql import DataFrame, SparkSession

QUERIES: Dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: Dict[str, str] = {}


def register(name: str, oracle: Optional[str] = None):
    """Decorator: add a query (and optional oracle SQL) to the registry."""

    def _wrap(func: Callable[[SparkSession, str], DataFrame]):
        QUERIES[name] = func
        if oracle is not None:
            ORACLES[name] = oracle
        return func

    return _wrap


# importing the modules populates the registry
from pywrangler_spark.queries import corpus as _corpus  # noqa: E402,F401
from pywrangler_spark.queries import dedup as _dedup  # noqa: E402,F401
from pywrangler_spark.queries import intervals as _intervals  # noqa: E402,F401
from pywrangler_spark.queries import multimodal as _multimodal  # noqa: E402,F401
from pywrangler_spark.queries import relational as _relational  # noqa: E402,F401
from pywrangler_spark.queries import similarity as _similarity  # noqa: E402,F401
from pywrangler_spark.queries import temporal as _temporal  # noqa: E402,F401
from pywrangler_spark.queries import text as _text  # noqa: E402,F401
from pywrangler_spark.queries import web as _web  # noqa: E402,F401

__all__ = ["QUERIES", "ORACLES", "register"]
