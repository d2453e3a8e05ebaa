"""Warehouse maintenance operators: SCD type-2 versioning and snapshot
reconciliation — the batch MERGE-family ops a dimension pipeline needs
where no transactional table format is available.

The reference has no mutation surface at all (its data is two static
CSVs); these are the idiomatic Spark expressions of the two most common
"change handling" jobs:

- ``scd2_apply``: fold a batch of updates into a type-2 history —
  close out the current version of each changed key, append the new
  version, leave everything else untouched. Pure union + one window
  pass per key: no row-by-row merge, no driver loop.
- ``snapshot_diff``: classify keys across two snapshots as
  added / removed / changed / unchanged via one full outer join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def scd2_apply(current: DataFrame, updates: DataFrame, key: str) -> DataFrame:
    """Fold ``updates`` (one row per key, carrying ``valid_from``)
    into the type-2 ``current`` history; the open version's
    ``valid_to`` is 9999-12-31.

    Scale shape: union + ONE window over (key ORDER BY valid_from) to
    re-derive every row's ``valid_to`` as lead(valid_from) — closing the
    superseded version and opening the new one in the same pass. One
    shuffle on the key; history length per key only affects its own
    partition's sort.
    """
    unioned = current.drop("valid_to").unionByName(updates)
    w = Window.partitionBy(key).orderBy(F.col("valid_from"))
    return unioned.withColumn(
        "valid_to",
        F.coalesce(
            F.lead("valid_from").over(w),
            F.lit("9999-12-31").cast(unioned.schema["valid_from"].dataType),
        ),
    )


def snapshot_diff(old: DataFrame, new: DataFrame, key: str) -> DataFrame:
    """Classify every key across two snapshots: 'added', 'removed',
    'changed', or 'unchanged', comparing every non-key column of ``old``.

    Scale shape: one full outer join on the key; change detection is a
    null-safe struct comparison (``<=>``) so NULL field values compare
    equal — no per-column driver logic, no second pass.
    """
    cols = [c for c in old.columns if c != key]

    def packed(df: DataFrame) -> Column:
        return F.struct(*[F.col(c) for c in cols])

    o = old.select(F.col(key), packed(old).alias("__old"))
    n = new.select(F.col(key), packed(new).alias("__new"))
    j = o.join(n, key, "full_outer")
    status = (
        F.when(F.col("__old").isNull(), F.lit("added"))
        .when(F.col("__new").isNull(), F.lit("removed"))
        .when(F.col("__old").eqNullSafe(F.col("__new")), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return j.select(key, status.alias("diff_status"))
