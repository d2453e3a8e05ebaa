"""Differential test: registered oracle queries, Spark vs DuckDB.

This mirrors the driver's t2 correctness gate (sf0.01) so mismatches are
caught locally first. Queries without oracle SQL get a rows-materialize
smoke check here; their accuracy laws live in ``tests/test_laws.py``.

With ~1000 registered queries a full dual-engine pass takes ~20 min,
so one run checks ~2/8 of ``tests.oracle.registry_slice``
(``crc32(name) % 8``): the slice rotating with the ISO week of the HEAD
commit, so all eight slices cycle through CI and a historical commit
re-runs the same slice, plus the fixed slice ``FIXED_SLICE``. Pin a slice with ``SPARK_GRAFT_ORACLE_SLICE=k`` or run the
full sweep with ``SPARK_GRAFT_ORACLE_SLICE=all``. The per-wave test files
are rows-only property checks, NOT oracle compares; this module and
``tests/test_determinism.py`` are the suite's Spark-vs-DuckDB
differentials.
"""

from __future__ import annotations

import pytest

from pyspark_movie_recommender_spark import queries as Q
from tests.oracle import compare, duck_connection, registry_slice


@pytest.fixture(scope="module")
def con(sf_oracle_dir):
    c = duck_connection(sf_oracle_dir)
    yield c
    c.close()


@pytest.mark.parametrize("name", registry_slice(Q.QUERIES))
def test_query(name, spark, sf_oracle_dir, con):
    df = Q.QUERIES[name](spark, sf_oracle_dir)
    if name in Q.ORACLE_SQL:
        compare(df, con, Q.ORACLE_SQL[name], name)
    else:
        # rows-only: must run, have a stable schema, and produce evidence
        assert df.columns
        rows = df.limit(1).collect()
        assert rows, f"{name}: empty rows-only result at oracle SF"
        for v in rows[0]:
            assert not isinstance(v, (list, dict)), (
                f"{name}: unhashable {type(v).__name__} cell reaches the gate"
            )
