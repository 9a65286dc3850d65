"""Known-answer tests for the reference-equivalent pipelines (SURVEY §5.2)
on a MovieLens-100k-shaped fixture."""

from __future__ import annotations

import math
import os

import pytest

from perfbench import gen
from perfbench.spans import SparkCounter
from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark import pipelines

FIXTURE_DIR = os.path.join(os.path.dirname(__file__), ".fixtures")

# u.item: 5 descriptive + 19 one-hot genre flags. Movie 1 = Toy Story:
# Animation, Childrens, Comedy (the §5.2 known answer).
MOVIES = [
    "1|Toy Story (1995)|01-Jan-1995||http://imdb/1|0|0|0|1|1|1|0|0|0|0|0|0|0|0|0|0|0|0|0",
    "2|GoldenEye (1995)|01-Jan-1995||http://imdb/2|0|1|1|0|0|0|0|0|0|0|0|0|0|0|0|0|1|0|0",
    "3|Plain Doc (1996)|01-Feb-1996||http://imdb/3|1|0|0|0|0|0|0|0|0|0|0|0|0|0|0|0|0|0|0",
]
RATINGS = [
    "1\t1\t5\t874965758",
    "1\t2\t3\t876893171",
    "2\t1\t4\t878542960",
    "3\t3\t1\t889751712",
]


@pytest.fixture(scope="module")
def ml_paths():
    os.makedirs(FIXTURE_DIR, exist_ok=True)
    mpath = os.path.join(FIXTURE_DIR, "u.item")
    rpath = os.path.join(FIXTURE_DIR, "u.data")
    with open(mpath, "w") as f:
        f.write("\n".join(MOVIES) + "\n")
    with open(rpath, "w") as f:
        f.write("\n".join(RATINGS) + "\n")
    return rpath, mpath


def test_preprocess_join_conservation_and_genres(spark, ml_paths):
    rpath, mpath = ml_paths
    out = pipelines.preprocess(spark, rpath, mpath)
    rows = out.collect()
    # inner join conserves all ratings (every rating has a movie)
    assert len(rows) == len(RATINGS)
    by_movie = {r.movieId: r for r in rows}
    assert sorted(by_movie[1].genres) == ["Animation", "Childrens", "Comedy"]
    # flag-array artifact preserved (§1.4): 19 positional '0'/'1' strings
    assert len(by_movie[1].genres_flags) == 19 and set(by_movie[1].genres_flags) <= {"0", "1"}


def test_build_movie_index_known_answers(spark, ml_paths):
    _, mpath = ml_paths
    idx = pipelines.build_movie_index(spark, mpath)
    rows = {r.movieId: r for r in idx.collect()}
    assert rows[1].num_genres == 3
    assert rows[2].genres == ["Action", "Adventure", "Thriller"]
    # 'unknown' flag is excluded from names (reference skips it,
    # elasticsearch_ingest.py:48) → movie 3 has no genres
    assert rows[3].genres == [] and rows[3].num_genres == 0


def test_train_recommendations_behavioral(spark, ml_paths):
    rpath, mpath = ml_paths
    processed = pipelines.preprocess(spark, rpath, mpath)
    recs = pipelines.train_recommendations(spark, processed, k=2)
    pdf = recs.toPandas()
    assert set(pdf.columns) == {"userId", "movieId", "predicted_rating"}
    assert (pdf.groupby("userId").size() <= 2).all()
    assert pdf["predicted_rating"].notna().all()


def test_preprocess_duplicate_movie_id_joins_once_per_item_row(spark, tmp_path):
    """u.item listing movie 1 twice: each rating of movie 1 joins each of
    its two u.item rows once (2 rows), as the reference's single join
    does; a u.item self-join would square that to 4."""
    mpath, rpath = str(tmp_path / "u.item"), str(tmp_path / "u.data")
    with open(mpath, "w") as f:
        f.write("\n".join(MOVIES + [MOVIES[0]]) + "\n")
    with open(rpath, "w") as f:
        f.write("\n".join(RATINGS) + "\n")
    rows = pipelines.preprocess(spark, rpath, mpath).collect()
    by_user = {}
    for r in rows:
        by_user.setdefault((r.userId, r.movieId), []).append(r)
    assert len(by_user[(1, 1)]) == 2 and len(by_user[(2, 1)]) == 2
    assert len(rows) == len(RATINGS) + 2
    assert all(sorted(r.genres) == ["Animation", "Childrens", "Comedy"] for r in by_user[(1, 1)])
    index = pipelines.build_movie_index(spark, mpath).collect()
    assert sorted(r.movieId for r in index) == [1, 1, 2, 3]


def test_train_recommendations_task_count_fits_small_input(spark, tmp_path):
    """A MovieLens-100k-sized input (943 users, 1,682 movies, 28k ratings,
    ~0.4 MB of parquet) trains in 1 × 1 ALS blocks: training plus the
    top-10 collect completes under 100 Spark tasks, where MLlib's fixed
    10 × 10 grid runs about 350. Every user still gets 10 finite recs."""
    truth = gen.write_movielens(str(tmp_path / "ml"), 1, 1682, 943, (20, 40))
    processed = str(tmp_path / "processed.parquet")
    pipelines.preprocess(
        spark, str(tmp_path / "ml" / "u.data"), str(tmp_path / "ml" / "u.item")
    ).write.parquet(processed)
    frame = spark.read.parquet(processed)

    counter = SparkCounter(spark)
    gid = counter.group("train-recs-tasks")
    try:
        rows = pipelines.train_recommendations(spark, frame).collect()
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    _jobs, tasks, _failed = counter.counts(gid)
    assert 0 < tasks < 100, tasks

    per_user: dict = {}
    for r in rows:
        assert math.isfinite(r.predicted_rating), r
        per_user[r.userId] = per_user.get(r.userId, 0) + 1
    assert sorted(per_user) == truth["users"] and len(per_user) == 943
    assert set(per_user.values()) == {10}
