"""ALS recommendation pipeline — the reference's identity, DataFrame-native.

Re-expresses ``/root/reference/recommender.py`` (RDD-era
``pyspark.mllib.recommendation.ALS``) on ``pyspark.ml``:

- 60/20/20 randomSplit with seed 0 (reference R1, ``recommender.py:51``);
- grid search over rank {4,8,12}, iterations=10, lambda=0.1, seed=5
  picking min validation RMSE (ML3, ``recommender.py:24-27,58-86``);
- ``coldStartStrategy='drop'`` batch scoring through ``ALSModel.transform``
  (``score``, used by the RMSE evaluation) — the exact semantic match for
  ``predictAll`` silently dropping factorless pairs (ML2,
  ``recommender.py:64,151,155-156``);
- union-retrain fold-in for a new user (ML4, ``recommender.py:122-125``);
- a per-model serving index on the driver, built once per
  ``(model, items, user_ratings)``: the ``items ⋈ itemFactors`` rows
  (item ids, the items' other columns, a float32 items × rank matrix),
  the user factors and every user's rated item ids, each collected once
  through ``driver_scalar.bounded_arrow`` under the ``recommend.serving_index``
  job tag. It is memoised weakly on the model, so a dropped model frees
  it, and rebuilt when the model is served with a different ``items``
  or ``user_ratings`` DataFrame (identity, not content). Driver memory:
  ``(items + users) × rank × 4 B + rated pairs × 8 B`` plus the items'
  other columns, with rows bounded by ``MAX_ITEMS``, ``MAX_USERS`` and
  ``MAX_RATED_PAIRS``;
- per-request scoring with no Spark job: the dot product accumulated in
  float32 in ALS ``predict``'s order, so predictions are the ones
  ``transform`` gives, the user's rated items masked out (F1
  generalized, ``recommender.py:144-146``), min-max rescale to [1,5]
  typed as ``minmax_rescale`` types it (ML5, ``recommender.py:199-204``)
  and the top k. The reply is a ``LocalRelation`` built from Arrow, so
  collecting it submits no job. A factorless user or item yields no row,
  as with ``coldStartStrategy='drop'``.

Exact RMSE values are NOT bit-reproducible across mllib→ml ALS
(different factor initialization); tests assert the ≈0.94 band on a
MovieLens-profile fixture instead (SURVEY.md §6).
"""

from __future__ import annotations

import weakref
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    FloatType,
    IntegerType,
    StructField,
    StructType,
)

from pyspark_movie_recommender_spark.driver_scalar import bounded_arrow, scalar_row
from pyspark_movie_recommender_spark.operators.relational import rmse, union_all

# reference hyperparameters (recommender.py:24-27)
SEED = 5
ITERATIONS = 10
LAMBDA = 0.1
RANKS = (4, 8, 12)
SPLIT_WEIGHTS = [0.6, 0.2, 0.2]
SPLIT_SEED = 0


def _als(rank: int, *, implicit: bool = False, max_iter: int = ITERATIONS):
    from pyspark.ml.recommendation import ALS

    return ALS(
        rank=rank,
        maxIter=max_iter,
        regParam=LAMBDA,
        seed=SEED,
        userCol="user_id",
        itemCol="item_id",
        ratingCol="rating",
        implicitPrefs=implicit,
        coldStartStrategy="drop",  # == predictAll's silent cold-start drop
    )


def score(model, pairs: DataFrame) -> DataFrame:
    """Batch scoring (reference ML2): (user_id, item_id) → + prediction,
    cold-start pairs dropped like ``predictAll`` (recommender.py:64,151)."""
    return model.transform(pairs)


def evaluate_rmse(model, holdout: DataFrame) -> float:
    """RMSE of model predictions against held-out ratings — the
    join-and-aggregate of recommender.py:64-73, entirely in the plan."""
    scored = score(model, holdout)
    return scalar_row(
        rmse(scored, "rating", "prediction"), "recommend.rmse"
    )["rmse"]


@dataclass
class GridSearchResult:
    best_rank: int
    best_model: object
    validation_rmse: dict[int, float] = field(default_factory=dict)
    test_rmse: float | None = None


def train_with_grid_search(
    ratings: DataFrame, ranks: tuple[int, ...] = RANKS
) -> GridSearchResult:
    """Reference entry point 1 (recommender.py:39-100): split, grid
    search rank by validation RMSE, report test RMSE at the best rank.

    ``randomSplit([3,1,1], 0)`` normalized to 0.6/0.2/0.2 with seed 0 —
    protocol reproduced, not row membership (partition-dependent).
    """
    train, validation, test = ratings.randomSplit(SPLIT_WEIGHTS, seed=SPLIT_SEED)
    train = train.cache()
    validation = validation.cache()

    result = GridSearchResult(best_rank=-1, best_model=None)
    best = float("inf")
    for rank in ranks:
        model = _als(rank).fit(train)
        err = evaluate_rmse(model, validation)
        result.validation_rmse[rank] = err
        if err < best:
            best, result.best_rank, result.best_model = err, rank, model

    result.test_rmse = evaluate_rmse(result.best_model, test)
    train.unpersist()
    validation.unpersist()
    return result


def fold_in_user(
    ratings: DataFrame, new_user_ratings: DataFrame, rank: int
) -> object:
    """Model refresh by union-retrain (reference ML4, recommender.py:122-125)."""
    return _als(rank).fit(union_all(ratings, new_user_ratings))


# Row bounds of the serving index's three collects. At the bounds and
# rank 12 the index holds (2^20 + 2^20) × 12 × 4 B = 96 MiB of float32
# factors and 2^24 × 8 B = 128 MiB of (user, item) int32 rated pairs.
MAX_ITEMS = 1 << 20
MAX_USERS = 1 << 20
MAX_RATED_PAIRS = 1 << 24
INDEX_JOB_TAG = "recommend.serving_index"


def _matrix(table: pa.Table, rank: int) -> np.ndarray:
    return table["features"].combine_chunks().flatten().to_numpy().reshape(-1, rank)


class _ServingIndex:
    """A model's factors and the rated pairs of ``user_ratings``, collected
    to the driver: ``rows`` is ``items ⋈ itemFactors`` without the factors,
    ``item_factors`` their rank × items matrix."""

    def __init__(self, model, items: DataFrame, user_ratings: DataFrame):
        self.items, self.user_ratings = items, user_ratings
        factors = model.itemFactors.select(F.col("id").alias("item_id"), "features")
        joined = items.join(factors, "item_id")
        t = bounded_arrow(joined, MAX_ITEMS, "recommend.serving_index.items")
        self.rows = t.drop_columns(["features"])
        self.item_ids = t["item_id"].to_numpy()
        self.item_factors = _matrix(t, model.rank).T.copy()
        t = bounded_arrow(model.userFactors, MAX_USERS, "recommend.serving_index.users")
        self.user_ids = t["id"].to_numpy()
        self.user_factors = _matrix(t, model.rank)
        pairs = user_ratings.select("user_id", "item_id")
        t = bounded_arrow(pairs, MAX_RATED_PAIRS, "recommend.serving_index.rated")
        self.rated_users = t["user_id"].to_numpy()
        self.rated_items = t["item_id"].to_numpy()
        cols = [f for f in joined.schema if f.name != "features"]
        self.schema = StructType(
            [
                cols[0],
                StructField("user_id", IntegerType(), False),
                StructField("prediction", FloatType()),
                *cols[1:],
            ]
        )


# model -> its _ServingIndex; weak, so a dropped model frees its index
_INDEXES: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _serving_index(model, items: DataFrame, user_ratings: DataFrame) -> _ServingIndex:
    """The serving index of ``(model, items, user_ratings)``: built on
    first use under the ``INDEX_JOB_TAG`` job tag, reused while the model
    lives and is served with the same ``items`` and ``user_ratings``."""
    ix = _INDEXES.get(model)
    if ix is None or ix.items is not items or ix.user_ratings is not user_ratings:
        sc = items.sparkSession.sparkContext
        sc.addJobTag(INDEX_JOB_TAG)
        try:
            ix = _INDEXES[model] = _ServingIndex(model, items, user_ratings)
        finally:
            sc.removeJobTag(INDEX_JOB_TAG)
    return ix


def recommend_for_user(
    model,
    items: DataFrame,
    user_ratings: DataFrame,
    user_id: int,
    k: int = 10,
    rescale: bool = True,
) -> DataFrame:
    """Reference entry point 2 (recommender.py:107-178): score every item
    the user has NOT rated, top-k by prediction, optional [1,5] rescale.

    items is expected to carry (item_id, title). The request reads the
    model's serving index and runs no Spark job; the reply is
    ``item_id, user_id, prediction, <items' other columns>[, scaled_rating]``
    ordered by the score descending, then ``item_id``.
    """
    if k < 0:
        raise ValueError(f"k must be >= 0, got {k}")
    ix = _serving_index(model, items, user_ratings)
    w = ix.user_factors[ix.user_ids == user_id]  # empty: a factorless user
    rated = ix.rated_items[ix.rated_users == user_id]
    cand = np.flatnonzero(~np.isin(ix.item_ids, rated) & (w.size > 0))
    pred = np.zeros(cand.size, np.float32)
    for wj, fj in zip(w.ravel(), ix.item_factors):  # ALS predict's float32 sum
        pred += wj * fj[cand]
    key = pred
    if rescale:
        lo, hi = (pred.min(), pred.max()) if cand.size else (0, 0)
        # minmax_rescale's typing: float p - lo and hi - lo, the rest double
        key = (
            np.ones(cand.size)
            if hi == lo
            else 1.0 + 4.0 * (pred - lo).astype(np.float64) / np.float64(hi - lo)
        )
    top = np.lexsort((ix.item_ids[cand], -key))[:k]
    reply = ix.rows.take(cand[top])
    user = np.full(top.size, user_id, np.int32)
    reply = reply.add_column(1, "user_id", pa.array(user))
    reply = reply.add_column(2, "prediction", pa.array(pred[top]))
    schema = ix.schema
    if rescale:
        reply = reply.append_column("scaled_rating", pa.array(key[top]))
        schema = StructType([*schema, StructField("scaled_rating", DoubleType())])
    return items.sparkSession.createDataFrame(reply, schema)


def _order_history_als(spark: SparkSession, sf_dir: str):
    """Implicit-feedback ALS fitted on order history: rating = log1p of
    total quantity per customer×part (one orders⋈lineitem shuffle + one
    groupBy on the composite key). Returns the fitted model."""
    from pyspark_movie_recommender_spark.sources import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    ratings = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("o_custkey").cast("int").alias("user_id"),
            F.col("l_partkey").cast("int").alias("item_id"),
        )
        .agg(F.log1p(F.sum("l_quantity")).alias("rating"))
    )
    return _als(rank=8, implicit=True, max_iter=5).fit(ratings)


def recommend_parts_for_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALS on the driver's star schema: implicit ratings from order
    history (log1p of total quantity per customer×part), top-5 part
    recommendations per customer.

    Scale shape: ratings build is one orders⋈lineitem shuffle + one
    groupBy on the composite key; ALS itself is MLlib's block-partitioned
    factorization. ``recommendForAllUsers`` does blocked cross products
    JVM-side — never a driver loop.
    """
    recs = _order_history_als(spark, sf_dir).recommendForAllUsers(5)
    return recs.select(
        F.col("user_id").cast("long").alias("c_custkey"),
        F.explode("recommendations").alias("rec"),
    ).select(
        "c_custkey",
        F.col("rec.item_id").cast("long").alias("p_partkey"),
        F.round(F.col("rec.rating"), 4).alias("score"),
    )


def item_neighbors_from_factors(
    spark: SparkSession, sf_dir: str, n_probes: int = 10
) -> DataFrame:
    """Related-items retrieval from the trained ALS item-factor matrix:
    cosine top-3 over ``itemFactors`` reusing the similarity operator
    library — the "customers who bought X also bought Y" surface the
    reference's user-centric recommend flow (recommender.py:143-176)
    never exposes.

    Scale shape: ``itemFactors`` is |items|×rank — tiny next to the fact
    tables — and the probe side is broadcast by ``cosine_topk_bruteforce``
    (corpus never shuffled); at catalog scale the same call swaps to the
    LSH-bucketed ANN path with identical output schema.
    """
    from pyspark_movie_recommender_spark.operators.similarity import (
        cosine_topk_bruteforce,
    )

    factors = _order_history_als(spark, sf_dir).itemFactors.select(
        F.col("id").cast("long").alias("vec_id"),
        F.col("features").cast("array<float>").alias("embedding"),
    )
    probes = factors.orderBy("vec_id").limit(n_probes)
    return cosine_topk_bruteforce(factors, probes, k=3)


def text_topic_classifier_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supervised text classification on the ml.Pipeline API: Tokenizer →
    HashingTF → IDF → LogisticRegression — the estimator/transformer
    composition surface (the reference uses only raw ALS; a full engine
    exposes the Pipeline abstraction the rest of pyspark.ml builds on).

    The synthetic corpus shares one vocabulary across its ``lang``
    labels (no real language signal), so the task is a self-validating
    distributional one: the TRUE label is the dominant token group
    (scan-ish vs join-ish vs agg-ish, exact counts, deterministic
    tie-break) and the pipeline must recover it from hashed TF-IDF —
    learnable precisely because one-vs-rest linear scores can express
    count comparisons, and honest because the label derivation is
    exact and checkable.

    Returns per-class (n_docs, n_correct) on a held-out 20 % split
    (seed 7).
    Scale shape: HashingTF is stateless per-row hashing (no vocabulary
    broadcast); IDF and LR are the standard distributed fits; nothing
    driver-side beyond the model's coefficient vectors.
    """
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import HashingTF, IDF, StringIndexer, Tokenizer

    from pyspark_movie_recommender_spark.functions import ws_tokens
    from pyspark_movie_recommender_spark.sources import load_table

    groups = {
        "scanish": ("scan", "row", "table"),
        "joinish": ("join", "merge", "hash"),
        "aggish": ("agg", "group", "sort"),
    }

    def count_of(words):
        toks = ws_tokens(F.lower(F.col("text")))
        arr = F.array(*[F.lit(w) for w in words])
        return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))

    docs = load_table(spark, sf_dir, "documents").filter(F.trim("text") != "")
    best = F.lit(None).cast("string")
    best_n = F.lit(-1)
    for name in sorted(groups, reverse=True):
        n = count_of(groups[name])
        take = n >= best_n  # alphabetically-earlier wins ties
        best = F.when(take, F.lit(name)).otherwise(best)
        best_n = F.when(take, n).otherwise(best_n)
    labeled = docs.select("doc_id", "text", best.alias("topic"))

    train, test = labeled.randomSplit([0.8, 0.2], seed=7)
    pipe = Pipeline(
        stages=[
            StringIndexer(inputCol="topic", outputCol="label"),
            Tokenizer(inputCol="text", outputCol="words"),
            HashingTF(inputCol="words", outputCol="tf", numFeatures=1 << 12),
            IDF(inputCol="tf", outputCol="features"),
            LogisticRegression(maxIter=30, regParam=0.001),
        ]
    )
    model = pipe.fit(train)
    pred = model.transform(test)
    return pred.groupBy("topic").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.count(F.when(F.col("label") == F.col("prediction"), 1))
        .cast("bigint")
        .alias("n_correct"),
    )
