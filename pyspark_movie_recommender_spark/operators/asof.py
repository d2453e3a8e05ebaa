"""As-of joins — an operator Spark lacks natively.

The scale-correct batch as-of join is NOT a range join (which explodes
candidate pairs): tag both relations, union, and run ONE window pass per
key carrying the last quote forward. Cost: a single shuffle on the key,
linear scan within partitions — survives arbitrary time skew.

``merge_asof_pandas`` is the applyInPandas fallback for semantics the
window form can't express (nearest-in-either-direction, tolerance
windows); it groups by key and runs ``pd.merge_asof`` per group via
Arrow batches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    key: str,
    value_cols: list[str],
    direction: str = "backward",
) -> DataFrame:
    """For each left row, attach the latest right row with ``on`` <= left.``on``
    (per ``key``). ``direction='forward'`` matches the earliest right row
    with ``on`` >= left.``on`` instead.

    Left columns are all preserved; right ``value_cols`` arrive as
    ``asof_<col>``. Rows with no match keep NULLs (left-join semantics).
    """
    if direction not in ("backward", "forward"):
        raise ValueError("direction must be 'backward' or 'forward'")

    lcols = left.columns
    tagged_r = right.select(
        key,
        on,
        F.lit(0).alias("__tag"),
        *[F.col(c).alias(f"asof_{c}") for c in value_cols],
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols if c not in (key, on)],
    )
    tagged_l = left.select(
        key,
        on,
        F.lit(1).alias("__tag"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"asof_{c}") for c in value_cols],
        *[F.col(c) for c in lcols if c not in (key, on)],
    )
    if direction == "backward":
        w = (
            W.partitionBy(key)
            .orderBy(F.asc(on), F.asc("__tag"))
            .rowsBetween(W.unboundedPreceding, 0)
        )
        pick = F.last
    else:
        w = (
            W.partitionBy(key)
            .orderBy(F.asc(on), F.desc("__tag"))
            .rowsBetween(0, W.unboundedFollowing)
        )
        pick = F.first

    merged = tagged_r.unionByName(tagged_l).select(
        *[c for c in lcols],
        "__tag",
        *[
            pick(f"asof_{c}", ignorenulls=True).over(w).alias(f"asof_{c}")
            for c in value_cols
        ],
    )
    return merged.filter(F.col("__tag") == 1).drop("__tag")


def merge_asof_pandas(
    left: DataFrame,
    right: DataFrame,
    on: str,
    key: str,
) -> DataFrame:
    """Backward ``pd.merge_asof`` per key group via applyInPandas
    (Arrow-batched), with no tolerance.

    Fallback for as-of variants the window form can't express. Requires
    both sides to fit per-group in executor memory — acceptable because
    groups are per-key slices, not whole relations.
    """
    import pandas as pd

    lcols = left.columns
    rcols = [c for c in right.columns if c not in (key,)]
    out_fields = [left.schema[c] for c in lcols] + [
        right.schema[c] for c in rcols if c != on
    ]
    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField(f.name if f.name in lcols else f"asof_{f.name}", f.dataType, True) for f in out_fields]
    )

    l2 = left.withColumn("__side", F.lit("l"))
    r2 = right.withColumn("__side", F.lit("r"))
    both = l2.unionByName(r2, allowMissingColumns=True)

    def per_key(pdf: pd.DataFrame) -> pd.DataFrame:
        lp = pdf[pdf["__side"] == "l"][lcols].sort_values(on)
        rp = pdf[pdf["__side"] == "r"][[key, on] + [c for c in rcols if c != on]].sort_values(on)
        rp = rp.rename(columns={c: f"asof_{c}" for c in rcols if c != on})
        if lp.empty:
            return pd.DataFrame(columns=[f.name for f in schema.fields])
        merged = pd.merge_asof(
            lp,
            rp.drop(columns=[key]),
            on=on,
            direction="backward",
        )
        return merged[[f.name for f in schema.fields]]

    return both.groupBy(key).applyInPandas(per_key, schema=schema)


def asof_nearest(
    left: DataFrame,
    right: DataFrame,
    on: str,
    key: str,
) -> DataFrame:
    """Symmetric nearest as-of: for each left row, the temporally
    CLOSEST right ``on`` value per ``key`` — preceding or following,
    ties to the preceding one (completes the backward/forward pair of
    ``asof_join`` with the nearest-neighbour variant).

    ``on`` must be a numeric (e.g. microsecond-epoch BIGINT) column on
    both sides. Output = all left columns plus ``nearest_dir``
    ('prev'/'next'/'none') and ``gap`` (BIGINT, >= 0, NULL when the key
    has no right rows).

    One shuffle on ``key``: both sides ride a single RANGE-framed
    window, so rows tied on ``on`` agree with pure value-inequality
    semantics regardless of intra-tie order — the property that lets a
    naive inequality-join oracle verify this single-pass form exactly.
    """
    lcols = left.columns
    tagged_r = right.select(
        key,
        on,
        F.lit(0).alias("__tag"),
        F.col(on).alias("__rv"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols if c not in (key, on)],
    )
    tagged_l = left.select(
        key, on, F.lit(1).alias("__tag"), F.lit(None).cast("long").alias("__rv"),
        *[F.col(c) for c in lcols if c not in (key, on)],
    )
    w = W.partitionBy(key).orderBy(on)
    prev_v = F.last("__rv", ignorenulls=True).over(
        w.rangeBetween(W.unboundedPreceding, 0)
    )
    next_v = F.first("__rv", ignorenulls=True).over(
        w.rangeBetween(0, W.unboundedFollowing)
    )
    merged = tagged_r.unionByName(tagged_l).select(
        *lcols, "__tag", prev_v.alias("__pv"), next_v.alias("__nv")
    )
    back = F.col(on) - F.col("__pv")
    fwd = F.col("__nv") - F.col(on)
    return (
        merged.filter(F.col("__tag") == 1)
        .select(
            *lcols,
            F.when(F.col("__pv").isNull() & F.col("__nv").isNull(), "none")
            .when(F.col("__nv").isNull(), "prev")
            .when(F.col("__pv").isNull(), "next")
            .when(back <= fwd, "prev")
            .otherwise("next")
            .alias("nearest_dir"),
            F.when(F.col("__pv").isNull() & F.col("__nv").isNull(), F.lit(None))
            .when(F.col("__nv").isNull(), back)
            .when(F.col("__pv").isNull(), fwd)
            .otherwise(F.least(back, fwd))
            .cast("long")
            .alias("gap"),
        )
    )
