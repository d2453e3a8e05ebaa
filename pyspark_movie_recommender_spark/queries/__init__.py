"""Query registry: every implemented operator as a (Spark, oracle-SQL) pair.

Each entry is the driver-contract unit from ``__spark_entry__.py``:
``QUERIES[name]`` is a callable ``(spark, sf_dir) -> DataFrame`` built on
the engine's operator library; ``ORACLE_SQL[name]`` (when present) is the
ANSI-SQL equivalent DuckDB runs on the same parquet tables. Names of
computed columns are aliased identically on both sides — the driver's
compare hashes values after sorting columns by name.

Determinism rules observed throughout:
- floating-point aggregates are rounded on BOTH sides (summation order
  differs between engines);
- top-k queries carry a total tie-break order;
- integer aggregates are cast to BIGINT on both sides (DuckDB SUM(int)
  is HUGEINT, Spark is LONG).

Scale notes per query live in the docstrings; the registry is also what
``bench.py`` times at sf0.1.
"""

from __future__ import annotations

import math
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pyspark_movie_recommender_spark.operators.lineage import ckpt as _ckpt
from pyspark_movie_recommender_spark.sources import load_table
from pyspark_movie_recommender_spark.operators import relational as R

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE_SQL: dict[str, str] = {}

# queries worth timing at sf0.1 (subset of QUERIES; bench.py reads this)
BENCH_QUERIES: list[str] = []


def query(name: str, oracle: str | None = None, bench: bool = False):
    """Register a query (and optionally its DuckDB oracle SQL)."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE_SQL[name] = oracle
        if bench:
            BENCH_QUERIES.append(name)
        return fn

    return deco


# Parts are imported IN ORDER — registration order (and therefore
# QUERIES/BENCH_QUERIES iteration order) is identical to the former
# single-module registry.
from pyspark_movie_recommender_spark.queries import (  # noqa: E402,F401
    registry_01,
    registry_02,
    registry_03,
    registry_04,
    registry_05,
    registry_06,
    registry_07,
    registry_08,
    registry_09,
    registry_10,
    registry_11,
    registry_12,
)
