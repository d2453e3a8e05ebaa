"""Relational core: the reference's operator set, generalized and idiomatic.

Reference parity map (SURVEY.md §2.A; citations into
``/root/reference/recommender.py``):

- projections/casts P2-P8 (``:44,55,56,64,137,146,161,165``) → plain
  ``select``; column pruning is Catalyst's job, not parse-time lambdas.
- NOT-IN filter F1 (``:144-146``) → ``anti_join`` (shuffle-free when the
  right side broadcasts) or ``~col.isin`` for literal lists.
- inner equi-joins J1/J2 (``:68,96,164``) → ``df.join`` with multi-column
  keys; no nested-tuple re-keying (P5) needed.
- union U1 (``:122``) → ``unionByName`` (UNION ALL bag semantics).
- global aggregates A1/A2 + scalar math M1 (``:73,97,155``) → ``agg``;
  RMSE is pure SQL: ``sqrt(avg(pow(a-p,2)))``.
- top-k K1/K2 (``:176,238-239``) → ``orderBy().limit()`` which Catalyst
  lowers to ``TakeOrderedAndProject`` (per-partition heap + driver merge,
  exactly the distributed shape of RDD ``takeOrdered``), plus the
  per-group generalization via ``row_number``.

Scale notes: every helper here keeps the plan declarative; joins pick
broadcast vs sort-merge via AQE, aggregations get map-side partial
aggregation automatically, and ``top_k_per_group`` does a single shuffle
on the group key with rank-pushdown (WindowGroupLimit) instead of a
global sort.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def anti_join(df: DataFrame, other: DataFrame, on: str | Sequence[str]) -> DataFrame:
    """NOT IN / NOT EXISTS as a left-anti join (generalizes reference F1).

    The reference captured a 10-id Python list in a closure
    (``recommender.py:144-146``); at scale the excluded set is a relation,
    and left-anti join is the shuffle-aware form (broadcast when small).
    """
    return df.join(other, on=list(on) if not isinstance(on, str) else on, how="left_anti")


def semi_join(df: DataFrame, other: DataFrame, on: str | Sequence[str]) -> DataFrame:
    """EXISTS as a left-semi join — returns left columns only."""
    return df.join(other, on=list(on) if not isinstance(on, str) else on, how="left_semi")


def union_all(*dfs: DataFrame) -> DataFrame:
    """Bag-semantics union by column name (reference U1, ``recommender.py:122``)."""
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


def global_top_k(df: DataFrame, order_by: Sequence[Column], k: int) -> DataFrame:
    """ORDER BY ... LIMIT k → ``TakeOrderedAndProject`` (reference K1).

    Never a full global sort: each partition keeps a k-heap, the driver
    merges — identical asymptotics to RDD ``takeOrdered``
    (``recommender.py:176``) but JVM-side and codegen'd.
    """
    return df.orderBy(*order_by).limit(k)


def top_k_per_group(
    df: DataFrame,
    group_by: Sequence[str],
    order_by: Sequence[Column],
    k: int,
) -> DataFrame:
    """Per-group top-k via ``row_number`` over a window, numbered in
    column ``rnk``.

    One shuffle on the group key; Spark's WindowGroupLimit pushes the
    k-limit below the sort so each partition only keeps k rows per group.
    """
    w = Window.partitionBy(*group_by).orderBy(*order_by)
    return (
        df.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
    )


def rmse(df: DataFrame, actual: str, predicted: str) -> DataFrame:
    """RMSE as a single global aggregate (reference A1+M1, ``recommender.py:73,97``).

    ``sqrt(avg(pow(a-p, 2)))`` — map-side partial aggregation means one
    double per partition crosses the shuffle regardless of input size.
    """
    return df.agg(
        F.sqrt(F.avg(F.pow(F.col(actual) - F.col(predicted), F.lit(2)))).alias("rmse")
    )


def minmax_rescale(df: DataFrame, col: str, out_col: str = "scaled") -> DataFrame:
    """Min-max rescale to the rating range [1, 5] in pure SQL (reference
    ML5 without the UDF).

    The reference wrapped each double in a 1-d vector via a Python UDF to
    feed ``MinMaxScaler`` (``recommender.py:199-204``); the same semantics
    are a global min/max aggregate + a projection, fully JVM-side. The
    global agg reduces to 2 doubles, broadcast back via a cross join of a
    1-row frame (no window-over-unpartitioned pitfall).
    """
    lo, hi = 1.0, 5.0
    bounds = df.agg(
        F.min(col).alias("__lo"), F.max(col).alias("__hi")
    )
    scaled = (
        F.lit(lo)
        + (F.lit(hi) - F.lit(lo))
        * (F.col(col) - F.col("__lo"))
        / (F.col("__hi") - F.col("__lo"))
    )
    return (
        df.crossJoin(F.broadcast(bounds))
        .withColumn(out_col, F.when(F.col("__hi") == F.col("__lo"), F.lit(lo)).otherwise(scaled))
        .drop("__lo", "__hi")
    )


def salted_join(
    df: DataFrame,
    other: DataFrame,
    on: str | Sequence[str],
    how: str = "inner",
    salt_buckets: int = 16,
) -> DataFrame:
    """Equi-join with manual key salting for heavily skewed left keys.

    Splits every left-side key into ``salt_buckets`` sub-keys via a
    deterministic hash of the whole row, and replicates the right side
    once per bucket, so one hot key spreads over ``salt_buckets``
    shuffle partitions instead of landing on a single straggler task.

    AQE's skew-join handling (``spark.sql.adaptive.skewJoin``) covers
    the same ground at runtime for sort-merge joins; this form is for
    when the skew is known ahead of time, the join must be hash
    partitioned for a later stage, or AQE is unavailable. Results are
    identical to a plain join (the salt is dropped), so the oracle for
    a salted query is the plain SQL join.

    Cost model: right side is replicated ``salt_buckets`` x through the
    shuffle — use for fact x dimension joins (small right side), never
    fact x fact. ``how`` is limited to inner/left, where per-row
    replicate-right semantics are join-correct.
    """
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports inner/left joins only")
    keys = [on] if isinstance(on, str) else list(on)
    # salt the left deterministically: hash all columns, not rand(), so
    # retries/speculative tasks see stable assignments
    left = df.withColumn(
        "__salt", F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(salt_buckets)).cast("int")
    )
    right = other.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    )
    return left.join(right, on=keys + ["__salt"], how=how).drop("__salt")
