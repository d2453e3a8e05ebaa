"""MovieLens-shaped CSV sources (the reference's inputs, done right).

The reference parses headerless CSV with a naive ``line.split(",")``
(``recommender.py:44,137``), which truncates the 2,127 movie titles that
contain RFC-4180 quoted commas (SURVEY.md §1.2 — a documented defect we
deliberately do NOT reproduce). Here we use Spark's real CSV reader with
explicit schemas (no inference in production paths) and keep the columns
the reference silently dropped:

- ratings ``timestamp`` (epoch seconds, dropped at ``recommender.py:44``)
  becomes a real TIMESTAMP ``ts`` column;
- movies ``genres`` (pipe-delimited, dropped at ``recommender.py:137``)
  becomes ``ARRAY<STRING>``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

RATINGS_CSV_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.IntegerType(), False),
        T.StructField("movie_id", T.IntegerType(), False),
        T.StructField("rating", T.DoubleType(), False),
        T.StructField("ts_epoch", T.LongType(), True),
    ]
)

MOVIES_CSV_SCHEMA = T.StructType(
    [
        T.StructField("movie_id", T.IntegerType(), False),
        T.StructField("title", T.StringType(), True),
        T.StructField("genres_raw", T.StringType(), True),
    ]
)


def read_ratings_csv(spark: SparkSession, path: str) -> DataFrame:
    """Read a headerless ratings CSV → (user_id INT, movie_id INT, rating
    DOUBLE, ts TIMESTAMP)."""
    df = spark.read.csv(path, schema=RATINGS_CSV_SCHEMA, header=False)
    return df.select(
        "user_id",
        "movie_id",
        "rating",
        F.timestamp_seconds("ts_epoch").alias("ts"),
    )


def read_movies_csv(spark: SparkSession, path: str) -> DataFrame:
    """Read a headerless movies CSV → (movie_id INT, title STRING, genres
    ARRAY<STRING>).

    RFC-4180 quoting handled by the CSV datasource; the latent genres
    array (``Adventure|Animation|...``) is materialized with ``split``.
    """
    df = spark.read.csv(path, schema=MOVIES_CSV_SCHEMA, header=False, quote='"', escape='"')
    return df.select(
        "movie_id",
        "title",
        F.split(F.col("genres_raw"), r"\|").alias("genres"),
    )
