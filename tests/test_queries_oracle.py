"""Differential test: registered oracle queries, Spark vs DuckDB.

This mirrors the driver's t2 correctness gate (sf0.01) so mismatches are
caught locally first. Queries without oracle SQL get a rows-materialize
smoke check instead (the driver's weaker rows-only path).

With ~1000 registered queries a full dual-engine pass takes ~20 min,
so by default this module checks a ~1/8 slice of the registry
(zlib.crc32(name) % 8 == slice). The slice ROTATES by the ISO week of
the HEAD COMMIT (tests.oracle.default_slice) — all eight slices cycle
through CI over eight weeks with no query permanently uncovered, while
re-running a historical commit stays reproducible (the slice is a
function of the commit, not of today's date); pin a slice with
SPARK_GRAFT_ORACLE_SLICE=k, or run everything with
SPARK_GRAFT_ORACLE_ALL=1 (the full sweep). The per-wave test files
are rows-only property checks, NOT oracle compares; this module is the
suite's only Spark-vs-DuckDB differential.
"""

from __future__ import annotations

import os
import zlib

import pytest

from pyspark_movie_recommender_spark import queries as Q
from tests.oracle import compare, default_slice, duck_connection


def _selected_names() -> list[str]:
    names = sorted(Q.QUERIES)
    if os.environ.get("SPARK_GRAFT_ORACLE_ALL"):
        return names
    env = os.environ.get("SPARK_GRAFT_ORACLE_SLICE")
    k = int(env) % 8 if env is not None else default_slice()
    return [n for n in names if zlib.crc32(n.encode()) % 8 == k]


@pytest.fixture(scope="module")
def con(sf_oracle_dir):
    c = duck_connection(sf_oracle_dir)
    yield c
    c.close()


@pytest.mark.parametrize("name", _selected_names())
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
