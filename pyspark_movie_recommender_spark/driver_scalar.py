"""Driver-scalar collect with an enforced k-bound.

The engine's scale contract allows a driver collect ONLY for
driver-scalar relations: 1-row aggregates and small, k-bounded
codebooks (bucket histograms, centroid samples, per-segment carry
state) that feed the next distributed stage, and the row-bounded
factor tables a served ALS model keeps on the driver. Round-6 advice
asked for that contract to be mechanical, not conventional: every
source-side collect routes through :func:`bounded_collect` (rows) or
:func:`bounded_arrow` (an Arrow table), which assert the
caller-declared bound at runtime, and
``tests/test_driver_scalar_contract.py`` greps the package so a future
raw ``.collect()``, ``.toArrow()`` or ``.toPandas()`` in non-test
source fails the suite. A corpus-sized collect therefore cannot appear
silently — it either trips the grep gate (new site) or the k-bound
assert (existing site whose relation grew past its contract).

At 100 TB the bounds are what make these sites safe: they are all
O(n_buckets), O(k centroids), O(|segments|), O(1) or a declared
constant row bound — never O(rows).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, Row


def bounded_collect(df: DataFrame, k_max: int, what: str) -> list[Row]:
    """``df.collect()`` with the site's declared driver-scalar bound.

    ``k_max`` is the contract: the largest row count this relation can
    legally produce (buckets+1, k centroids, |segments|, 1 for a global
    aggregate). ``what`` names the site in the failure message.
    """
    rows = df.collect()
    _check_bound(len(rows), k_max, what)
    return rows


def bounded_arrow(df: DataFrame, k_max: int, what: str) -> pa.Table:
    """``df.toArrow()`` with the site's declared row bound, under the
    same contract as :func:`bounded_collect`."""
    table = df.toArrow()
    _check_bound(table.num_rows, k_max, what)
    return table


def _check_bound(n: int, k_max: int, what: str) -> None:
    if n > k_max:
        raise AssertionError(
            "driver-scalar contract violated at %s: the collect returned "
            "%d rows > declared bound %d — this relation is no longer "
            "k-bounded and must not be collected" % (what, n, k_max)
        )


def scalar_row(df: DataFrame, what: str) -> Row:
    """Collect a relation contracted to produce EXACTLY one row (a
    global aggregate or ``limit(1)``) and return that row."""
    rows = bounded_collect(df, 1, what)
    if not rows:
        raise AssertionError(
            "driver-scalar contract violated at %s: expected exactly one "
            "row, got zero" % what
        )
    return rows[0]
