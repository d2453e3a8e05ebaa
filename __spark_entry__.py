"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query at sf0.001; ``queries()`` /
``oracle_sql()`` expose the engine's full registry (one entry per
implemented operator from SURVEY.md §2) for the DuckDB differential
check at sf0.01. The registry itself lives in the
``pyspark_movie_recommender_spark/queries/`` package.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark_movie_recommender_spark import queries as Q  # noqa: E402

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return Q.QUERIES["flagship_top_orders_per_customer"](spark, SF0001)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return dict(Q.QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL for every oracle-expressible query."""
    return dict(Q.ORACLE_SQL)
