"""Results must not depend on the partition layout.

A query whose result changes when the data is split differently would
return different answers on different cluster layouts: an unrounded
float comparison, an un-tiebroken top-k, an order-dependent aggregate.
Each query in the oracle suite's slice (``tests.oracle.registry_slice``)
is rebuilt and run under a layout far from the session's: 7 shuffle
partitions, 1 MB scan splits and no AQE coalescing. Queries with oracle
SQL must still match DuckDB; rows-only queries must return the same
normalised multiset as under the session layout.
"""

from __future__ import annotations

from collections import Counter

import pytest

from pyspark_movie_recommender_spark import queries as Q
from tests.oracle import _norm, compare, duck_connection, registry_slice

SPLIT_LAYOUT = {
    "spark.sql.shuffle.partitions": "7",
    "spark.sql.files.maxPartitionBytes": str(1024 * 1024),
    "spark.sql.adaptive.coalescePartitions.enabled": "false",
}

# A KLL sketch merge depends on the order partitions arrive in, so these
# estimates move with the layout; their law tests
# (test_kll_quantiles_within_rank_error, test_sketch_errors_within_bounds)
# bound the rank error instead.
LAYOUT_DEPENDENT = {"kll_quantile_rollup", "sketch_accuracy_audit"}


@pytest.fixture(scope="module")
def con(sf_oracle_dir):
    c = duck_connection(sf_oracle_dir)
    yield c
    c.close()


@pytest.fixture
def split_layout(spark):
    """Yields a function that switches the session to SPLIT_LAYOUT; the
    session's values come back at teardown."""
    saved = {k: spark.conf.get(k) for k in SPLIT_LAYOUT}

    def apply():
        for k, v in SPLIT_LAYOUT.items():
            spark.conf.set(k, v)

    yield apply
    for k, v in saved.items():
        spark.conf.set(k, v)


def _multiset(df) -> Counter:
    return Counter(_norm(tuple(r)) for r in df.collect())


@pytest.mark.parametrize("name", registry_slice(Q.QUERIES))
def test_result_independent_of_partition_layout(
    name, spark, sf_oracle_dir, con, split_layout
):
    build = Q.QUERIES[name]
    if name in Q.ORACLE_SQL:
        split_layout()
        compare(build(spark, sf_oracle_dir), con, Q.ORACLE_SQL[name], name)
        return
    want = None if name in LAYOUT_DEPENDENT else _multiset(build(spark, sf_oracle_dir))
    # rebuild under the new layout: construction-time decisions (router
    # censuses, band widths) must see the layout they will run on
    split_layout()
    got = _multiset(build(spark, sf_oracle_dir))
    assert got, f"{name}: empty result under the split layout"
    if want is not None:
        assert got == want, (
            f"{name}: result changed under the split layout; "
            f"only-split={list((got - want))[:3]} "
            f"only-session={list((want - got))[:3]}"
        )
