"""Reference-equivalent pipelines, rebuilt Spark-first (SURVEY.md §7.2 #3).

These reproduce the reference's three batch jobs end-to-end on
MovieLens-shaped inputs, replacing each scalability cliff:

| Reference | Here |
|---|---|
| 18× filter+union genre unpivot (elasticsearch_ingest.py:48-61) | zero-shuffle array filter/transform (one scan) |
| `toPandas()` + per-row HTTP sink (ingest :84,112-143) | distributed parquet sink |
| unseeded ALS + row-loop index (model.py:10-24) | seeded ALS + distributed flatten |
| inferSchema / untyped reads (preprocessing.py:6,11) | declared StructType readers |
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.recommend import als_recommendations, train_als
from .operators.relational import join_broadcast_dim, null_drop, one_hot_to_names
from .sources.readers import GENRES_100K, read_movies, read_ratings


_GENRE_NAMES = [g for g in GENRES_100K if g != "unknown"]


def preprocess(spark: SparkSession, ratings_path: str, movies_path: str) -> DataFrame:
    """The reference preprocessing job (src/preprocessing.py:4-24):
    ratings ⋈ movies with both genre representations from §1.4 — the
    canonical name-array (``genres``) plus the reference's flag-array
    artifact (``genres_flags``). Both are per-row expressions over one
    u.item scan, so each rating joins each u.item row of its movie once."""
    ratings = null_drop(read_ratings(spark, ratings_path))
    movies = one_hot_to_names(read_movies(spark, movies_path), _GENRE_NAMES).select(
        "movieId", "title", "release_date", F.array(*GENRES_100K).alias("genres_flags"), "genres"
    )
    return join_broadcast_dim(ratings, movies, on="movieId")


def build_movie_index(spark: SparkSession, movies_path: str) -> DataFrame:
    """The reference's ES ingest frame (elasticsearch_ingest.py:24-84):
    movies with genre name-arrays + num_genres — no unpivot shuffle at all
    (single-pass array ops replace 18 filter+union branches), no join, no
    collect, ready for any sink. Arrays are sorted for determinism."""
    movies = one_hot_to_names(read_movies(spark, movies_path), _GENRE_NAMES)
    # a row without a movieId matches no movie: its genres stay null
    genres = F.when(F.col("movieId").isNotNull(), F.col("genres"))
    return movies.select(
        "movieId", "title", "release_date", genres.alias("genres"), F.size(genres).alias("num_genres")
    )


def train_recommendations(spark: SparkSession, processed: DataFrame, k: int = 10) -> DataFrame:
    """The reference model job (src/model.py): seeded ALS on the processed
    ratings, flattened top-k per user."""
    ratings = processed.select("userId", "movieId", F.col("rating").cast("float"))
    model = train_als(ratings, "userId", "movieId", "rating", rank=10, max_iter=10, seed=42)
    return als_recommendations(model, k, user_col="userId", item_col="movieId")
