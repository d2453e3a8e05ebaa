"""Misra-Gries heavy-hitter summaries — deterministic counter-based
sketching, the guarantee-bearing complement to Count-Min (probabilistic
overestimates) and exact top-k (a full shuffle of the key space).

A Misra-Gries summary with k counters processed over n items
undercounts any item by at most n/(k+1); every item with true frequency
above n/(k+1) is guaranteed present. Summaries MERGE: add counters
pointwise, then subtract the (k+1)-th largest combined count and drop
non-positive counters — the result is again an MG summary whose error
adds. That mergeability is what makes the sketch distributed-friendly:
each partition builds a local summary (one pass, k counters of state),
and the merge runs on |partitions|·k rows, never on the key space.

Output counts are LOWER BOUNDS; the candidate set is partition-layout
dependent (rows-only checkable), but the containment guarantee is not —
``tests`` pin it against exact counts.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def misra_gries(df: DataFrame, col: str) -> DataFrame:
    """Heavy-hitter candidates for ``df[col]`` with ``k`` = 50 counters.

    Returns (token, lower_bound, global_decrement): ``lower_bound`` is
    the merged counter after the final decrement (a lower bound on the
    true count); every value with true frequency >
    2·n/(k+1) + global_decrement is guaranteed present. One Arrow pass
    per partition with k counters of state; the merge aggregates
    |partitions|·k candidate rows.
    """

    k = 50

    def summarize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict[str, int] = {}
        for pdf in batches:
            for v in pdf[col]:
                if v is None:
                    continue
                if v in counters:
                    counters[v] += 1
                elif len(counters) < k:
                    counters[v] = 1
                else:
                    # decrement-all step: amortized O(1) via dict rebuild
                    counters = {
                        t: c - 1 for t, c in counters.items() if c > 1
                    }
        yield pd.DataFrame(
            {"token": list(counters), "cnt": list(counters.values())}
        )

    partials = df.select(F.col(col).alias(col)).mapInPandas(
        summarize, "token string, cnt long"
    )
    merged = partials.groupBy("token").agg(F.sum("cnt").alias("cnt"))
    # merge decrement: subtract the (k+1)-th largest combined counter
    w = Window.orderBy(F.col("cnt").desc(), F.col("token"))
    ranked = merged.withColumn("rnk", F.row_number().over(w))
    # the ≤|partitions|·k-row candidate relation fans out to the
    # decrement lookup AND the final filter — without materialization
    # the whole Arrow sketch pass over the stream runs twice
    from pyspark_movie_recommender_spark.operators.lineage import ckpt

    ranked = ckpt(ranked)
    dec = ranked.filter(F.col("rnk") == k + 1).select(
        F.col("cnt").alias("dec")
    )
    dec_or_zero = dec.unionByName(
        ranked.sparkSession.createDataFrame([(0,)], "dec long")
    ).agg(F.max("dec").alias("dec"))
    return (
        ranked.crossJoin(F.broadcast(dec_or_zero))
        .filter(F.col("cnt") - F.col("dec") > 0)
        .select(
            "token",
            (F.col("cnt") - F.col("dec")).cast("long").alias("lower_bound"),
            F.col("dec").cast("long").alias("global_decrement"),
        )
    )
