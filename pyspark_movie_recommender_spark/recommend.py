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
- a per-model serving catalogue, built once per ``(model, items)`` pair:
  ``itemFactors ⋈ items`` and the user factors, coalesced to
  ``defaultParallelism`` and lineage-truncated with ``ckpt``. The factor
  tables are ``LogicalRDD`` leaves without size statistics, so any plan
  over them is a shuffle join, and every job over a relation derived
  from them re-walks the whole ALS training DAG; after truncation a
  request plans and schedules over a one-stage leaf instead;
- per-request scoring without ``ALSModel.transform``: the user's factor
  row, broadcast, cross-joined to the catalogue, with the dot product
  accumulated in float in ALS ``predict``'s order, so predictions are
  the ones ``transform`` gives. A factorless user or item yields no row,
  as with ``coldStartStrategy='drop'``;
- candidate generation as a broadcast left-anti join over the user's
  rated items (F1 generalized, ``recommender.py:144-146``);
- min-max rescale of predictions to [1,5] in pure SQL (ML5,
  ``recommender.py:199-204`` — no VectorUDT, no Python UDF).

Exact RMSE values are NOT bit-reproducible across mllib→ml ALS
(different factor initialization); tests assert the ≈0.94 band on a
MovieLens-profile fixture instead (SURVEY.md §6).
"""

from __future__ import annotations

import weakref
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark_movie_recommender_spark.driver_scalar import scalar_row
from pyspark_movie_recommender_spark.operators.lineage import ckpt
from pyspark_movie_recommender_spark.operators.relational import (
    anti_join,
    global_top_k,
    minmax_rescale,
    rmse,
    union_all,
)

# reference hyperparameters (recommender.py:24-27)
SEED = 5
ITERATIONS = 10
LAMBDA = 0.1
RANKS = (4, 8, 12)
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
    ratings: DataFrame,
    ranks: tuple[int, ...] = RANKS,
    weights: tuple[float, float, float] = (0.6, 0.2, 0.2),
    split_seed: int = SPLIT_SEED,
) -> GridSearchResult:
    """Reference entry point 1 (recommender.py:39-100): split, grid
    search rank by validation RMSE, report test RMSE at the best rank.

    ``randomSplit([3,1,1], 0)`` normalized to 0.6/0.2/0.2 with seed 0 —
    protocol reproduced, not row membership (partition-dependent).
    """
    train, validation, test = ratings.randomSplit(list(weights), seed=split_seed)
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


@dataclass(frozen=True)
class ServingCatalog:
    """A model's factors, materialised for serving: ``items`` is the
    items relation's columns plus ``features`` (items without factors
    dropped), ``users`` is ``(user_id, features)``."""

    source: DataFrame
    items: DataFrame
    users: DataFrame


# model -> its ServingCatalog; weak, so a dropped model frees its catalogue
_CATALOGS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def serving_catalog(model, items: DataFrame) -> ServingCatalog:
    """The serving catalogue of ``(model, items)``: built and
    checkpointed on first use, reused while the model lives and is
    served with the same ``items`` DataFrame."""
    cat = _CATALOGS.get(model)
    if cat is not None and cat.source is items:
        return cat
    n = items.sparkSession.sparkContext.defaultParallelism
    factors = model.itemFactors.select(F.col("id").alias("item_id"), "features")
    cat = ServingCatalog(
        source=items,
        items=items.join(factors, "item_id").coalesce(n).transform(ckpt),
        users=model.userFactors.select(F.col("id").alias("user_id"), "features")
        .coalesce(n)
        .transform(ckpt),
    )
    _CATALOGS[model] = cat
    return cat


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

    Candidate generation is a left-anti join (not a closure-captured id
    list); items is expected to carry (item_id, title). Scoring reads the
    model's serving catalogue (``serving_catalog``), so a request plans
    no shuffle: the user vector, the rated items and the rescale bounds
    are broadcast.
    """
    cat = serving_catalog(model, items)
    user = cat.users.filter(F.col("user_id") == user_id).select(
        F.col("features").alias("__u")
    )
    rated = user_ratings.filter(F.col("user_id") == user_id).select("item_id")
    dot = F.aggregate(
        F.zip_with("__u", "features", lambda x, y: x * y),
        F.lit(0).cast("float"),
        lambda acc, x: acc + x,
    )
    preds = (
        anti_join(cat.items, F.broadcast(rated), "item_id")
        .crossJoin(F.broadcast(user))
        .select(
            "item_id",
            F.lit(user_id).alias("user_id"),
            dot.alias("prediction"),
            *[c for c in items.columns if c != "item_id"],
        )
    )
    if rescale:
        preds = minmax_rescale(preds, "prediction", out_col="scaled_rating")
        order = [F.desc("scaled_rating"), F.asc("item_id")]
    else:
        order = [F.desc("prediction"), F.asc("item_id")]
    return global_top_k(preds, order, k)


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


def recommend_parts_for_customers(
    spark: SparkSession, sf_dir: str, k: int = 5
) -> DataFrame:
    """ALS on the driver's star schema: implicit ratings from order
    history (log1p of total quantity per customer×part), top-k part
    recommendations per customer.

    Scale shape: ratings build is one orders⋈lineitem shuffle + one
    groupBy on the composite key; ALS itself is MLlib's block-partitioned
    factorization. ``recommendForAllUsers`` does blocked cross products
    JVM-side — never a driver loop.
    """
    recs = _order_history_als(spark, sf_dir).recommendForAllUsers(k)
    return recs.select(
        F.col("user_id").cast("long").alias("c_custkey"),
        F.explode("recommendations").alias("rec"),
    ).select(
        "c_custkey",
        F.col("rec.item_id").cast("long").alias("p_partkey"),
        F.round(F.col("rec.rating"), 4).alias("score"),
    )


def item_neighbors_from_factors(
    spark: SparkSession, sf_dir: str, k: int = 3, n_probes: int = 10
) -> DataFrame:
    """Related-items retrieval from the trained ALS item-factor matrix:
    cosine top-k over ``itemFactors`` reusing the similarity operator
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
    return cosine_topk_bruteforce(factors, probes, k=k)


def text_topic_classifier_pipeline(
    spark: SparkSession, sf_dir: str, seed: int = 7
) -> DataFrame:
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

    Returns per-class (n_docs, n_correct) on a held-out split.
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

    train, test = labeled.randomSplit([0.8, 0.2], seed=seed)
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
