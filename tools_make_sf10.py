"""Synthesize the sf10 DOCUMENTS corpus (500k docs) for the router receipt.

Round-5's natural-engagement evidence for `adaptive_levenshtein_pairs`
— the routing census crossing the 40k cap on UN-FORCED data (9 of 64
keys, max a_pop 59,912) — came from a corpus built by hand. This is
its generator: a two-level 10x replication of
sf0.1's documents, each level tagging every 8th word with a distinct
replica marker (level 1: ``r<k>``, level 2: ``s<k>``), so:

- length/lang distributions (hence the (lang, bucket) census profile)
  replicate: per-key populations scale ~100x, pushing natural keys
  over the cap;
- replicas are near- but not exact duplicates (every 8-gram shingle
  and every 40-char prefix crosses a tagged word), so the near-dup
  candidate volume grows with the corpus, not quadratically in the
  replication factor's exact-copy collapse;
- doc_ids get ``level1 * 10M + level2 * 100M`` offsets: disjoint, and
  each base doc's replicas stay identifiable for spot-checks.

Only documents.parquet is written — the receipt (and its losslessness
cross-check) reads nothing else.

Usage:
    python tools_make_sf10.py [/tmp/sf10]
    # then (the ~23 min full receipt):
    #   census over /tmp/sf10 -> keys over cap on natural data
    #   adaptive_levenshtein_pairs(docs) end-to-end
    # the <5 min committed equivalent is
    #   tests/test_operators.py::test_adaptive_levenshtein_natural_engagement

The small-corpus natural-engagement TEST uses the same `_tag_replicate`
transform at 10x on sf0.01 with a proportionally reduced cap, so the
committed evidence reproduces in minutes; this tool exists to rerun
the full-scale receipt when the cap or the router changes.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark_movie_recommender_spark import get_spark

SRC = "/root/testdata/sf0.1"


def _tag_replicate(df: DataFrame, tag: str, offset: int, n: int = 10) -> DataFrame:
    """10x replication; replica k > 0 gets every 8th word suffixed with
    ``<tag><k>`` (8-gram shingles and 40-char prefixes all cross a
    tagged word, so replicas are near-dups, not exact dups) and doc_id
    shifted by ``k * offset``."""
    rep = df.crossJoin(
        F.broadcast(df.sparkSession.range(n).select(F.col("id").alias("__r")))
    )
    rep = rep.withColumn(
        "doc_id", (F.col("doc_id") + F.col("__r") * offset).cast("long")
    )
    rep = rep.withColumn(
        "text",
        F.expr(
            "array_join(zip_with(split(text, ' '), "
            "sequence(0, size(split(text, ' ')) - 1), "
            "(w, i) -> CASE WHEN i % 8 = 0 AND __r > 0 "
            f"THEN concat(w, '{tag}', CAST(__r AS STRING)) "
            "ELSE w END), ' ')"
        ),
    ).withColumn("n_chars", F.length("text").cast("long"))
    return rep.drop("__r")


def main() -> None:
    dst = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf10"
    os.makedirs(dst, exist_ok=True)
    spark = get_spark("make-sf10")
    docs = spark.read.parquet(f"{SRC}/documents.parquet")
    sf1 = _tag_replicate(docs, "r", 10_000_000)
    sf10 = _tag_replicate(sf1, "s", 100_000_000)
    out = f"{dst}/documents.parquet"
    sf10.repartition(64).write.mode("overwrite").parquet(out)
    print("documents:", spark.read.parquet(out).count(), "->", out)


if __name__ == "__main__":
    main()
