"""Empirical scale-shape checks on corpora 1-2 orders larger than the
oracle fixtures: the sub-quadratic properties the 100 TB design claims
must be visible as measured growth rates, not just docstrings.

Corpora are synthesized JVM-side (range + hash expressions — no Python
in generation) with unique-per-doc token sets, and near-duplicates
planted at a fixed rate so the pipelines have real work to find.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F


def _synth_docs(spark, n: int, dup_rate: int = 20):
    """n docs of 12 pseudo-random words (xxhash64 keyspace ~10^6, so
    cross-doc shingle collisions are rare); every dup_rate-th doc is a
    near-copy of its predecessor (first word changed)."""
    base = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            *[
                F.concat(
                    F.lit("w"),
                    (F.abs(F.xxhash64(F.col("id"), F.lit(k))) % F.lit(1_000_000))
                    .cast("string"),
                )
                for k in range(12)
            ],
        ).alias("text0"),
    )
    w = Window.orderBy("doc_id")
    return base.select(
        "doc_id",
        F.when(
            (F.col("doc_id") % dup_rate == 0) & (F.col("doc_id") > 0),
            F.concat(
                F.lit("wX "),
                F.expr("substring_index(lag(text0) OVER (ORDER BY doc_id), ' ', -11)"),
            ),
        )
        .otherwise(F.col("text0"))
        .alias("text"),
    ).withColumn("text", F.coalesce("text", F.lit("empty")))


def test_minhash_lsh_candidates_grow_linearly(spark):
    """Doubling the corpus should ~double LSH candidate pairs (banded
    equi-join), never ~quadruple (all-pairs). Random band collisions
    exist but planted dups dominate; the growth factor stays well under
    the quadratic regime."""
    from pyspark_movie_recommender_spark.operators.cache import release_all
    from pyspark_movie_recommender_spark.operators.dedup import minhash_lsh_pairs

    counts = {}
    for n in (20_000, 40_000):
        docs = _synth_docs(spark, n)
        counts[n] = minhash_lsh_pairs(
            docs, "text", "doc_id", verify_threshold=0.5
        ).count()
        release_all()
    # planted dups: ~n/20 pairs. growth factor ~2 for linear, ~4 for
    # quadratic; assert comfortably below the quadratic regime
    assert counts[20_000] >= 900  # finds the ~1000 planted pairs
    growth = counts[40_000] / counts[20_000]
    assert growth < 3.0, counts


def test_planted_dups_recovered_at_scale(spark):
    """End-to-end recall on the 20k corpus: >=99% of planted neighbour
    pairs survive banding + estimate-verify."""
    from pyspark_movie_recommender_spark.operators.cache import release_all
    from pyspark_movie_recommender_spark.operators.dedup import minhash_lsh_pairs

    n = 20_000
    docs = _synth_docs(spark, n)
    pairs = minhash_lsh_pairs(docs, "text", "doc_id", verify_threshold=0.4)
    planted = (
        pairs.filter(
            (F.col("id_b") == F.col("id_a") + 1) & (F.col("id_b") % 20 == 0)
        )
    ).count()
    release_all()
    expected = n // 20 - 1
    assert planted >= 0.99 * expected, (planted, expected)


def test_containment_rarest_token_blocking_is_subquadratic(spark):
    """The containment join's rarest-token candidate count must grow
    ~linearly in docs (unique-ish vocab ⇒ min-df stays O(1)); the naive
    all-pairs form grows quadratically. Measured, not asserted from the
    docstring: at 2x docs the candidate ratio must stay far below the
    4x a quadratic shape would give."""

    def candidates(n: int) -> int:
        docs = _synth_docs(spark, n).select(
            "doc_id", F.array_distinct(F.split("text", " ")).alias("w")
        )
        tok = docs.select("doc_id", F.explode("w").alias("token"))
        df_counts = tok.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
        rarest = (
            tok.join(df_counts, "token")
            .groupBy("doc_id")
            .agg(F.min(F.struct("df", "token")).alias("m"))
            .select("doc_id", F.col("m.token").alias("token"))
        )
        return (
            rarest.withColumnRenamed("doc_id", "id_a")
            .join(tok.withColumnRenamed("doc_id", "id_b"), "token")
            .filter(F.col("id_a") != F.col("id_b"))
            .count()
        )

    c1, c2 = candidates(4000), candidates(8000)
    # linear shape: ratio ~2; quadratic would be ~4. Allow slack for the
    # planted-dup fraction's shared tokens.
    assert c2 < c1 * 3, (c1, c2)


def test_spatial_grid_candidates_are_subquadratic(spark):
    """The grid-blocked radius join's CANDIDATE count (cell co-residents
    before the distance verify) must scale with local density x 9, not
    with n x m: at 20k x 1k points on the 100 km plane with r=2 km, the
    naive pair space is 20M while the grid candidates stay under ~2% of
    it, and doubling the fact side roughly doubles (not quadruples) the
    candidates."""
    r = 2000

    def cand_count(n_cust: int, n_supp: int) -> int:
        cust = spark.range(n_cust).select(
            ((F.col("id") * 7919) % 100000).alias("x"),
            ((F.col("id") * 104729) % 100000).alias("y"),
        ).withColumn("cell", F.expr(f"(x div {r}) * 1000 + (y div {r})"))
        supp = spark.range(n_supp).select(
            ((F.col("id") * 6271) % 100000).alias("sx"),
            ((F.col("id") * 31337) % 100000).alias("sy"),
        ).select(
            "sx", "sy",
            F.explode(
                F.expr(
                    f"flatten(transform(sequence(-1, 1), dx ->"
                    f" transform(sequence(-1, 1), dy ->"
                    f" ((sx div {r}) + dx) * 1000 + ((sy div {r}) + dy))))"
                )
            ).alias("cell"),
        )
        return cust.join(supp, "cell").count()

    c1 = cand_count(10_000, 1_000)
    c2 = cand_count(20_000, 1_000)
    naive2 = 20_000 * 1_000
    assert c2 < 0.05 * naive2, (c2, naive2)
    growth = c2 / max(c1, 1)
    assert 1.5 <= growth <= 2.5, (c1, c2, growth)
