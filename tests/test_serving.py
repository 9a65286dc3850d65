"""Golden-answer tests for the serving-edge adapter on the REAL
MovieLens-100k data: every endpoint function must reproduce the
reference API's response shapes and branch behavior
(/root/reference/src/api.py:74-263) — 400/404/disambiguation/clamp
branches included."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark import (
    pipelines,
    serving,
)
from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.operators import (
    movierec,
)

DATA = "/root/reference/data"
pytestmark = pytest.mark.skipif(
    not os.path.exists(f"{DATA}/u.item"), reason="reference data not present"
)

DOC_KEYS = {"movieId", "title", "release_date", "genres"}  # ES _source shape


@pytest.fixture(scope="module")
def frame(spark):
    return pipelines.build_movie_index(spark, f"{DATA}/u.item").cache()


@pytest.fixture(scope="module", params=["frame", "index"])
def movies(spark, frame, request, tmp_path_factory):
    """Every golden test runs twice: against the raw movies frame (the
    oracle path) and against the MovieIndex published from it and loaded
    back (the production serving path) — the responses must be
    identical."""
    if request.param == "frame":
        return frame
    index_dir = str(tmp_path_factory.mktemp("movieindex"))
    movierec.write_movie_index(movierec.build_movie_index_tables(frame), index_dir)
    return movierec.load_movie_index(spark, index_dir)


# ---------------------------------------------------------------------------
# POST /recommend (api.py:74-162)
# ---------------------------------------------------------------------------

def test_recommend_invalid_json(movies):
    assert serving.recommend_endpoint(movies, None) == (400, {"error": "Invalid JSON"})
    assert serving.recommend_endpoint(movies, {}) == (400, {"error": "Invalid JSON"})


def test_recommend_missing_title(movies):
    # a non-empty body without (or with a falsy) title → "Title is
    # required", mirroring data.get("title") truthiness (api.py:82-85)
    assert serving.recommend_endpoint(movies, {"not_title": "x"}) == (
        400,
        {"error": "Title is required"},
    )
    assert serving.recommend_endpoint(movies, {"title": ""}) == (
        400,
        {"error": "Title is required"},
    )


def test_recommend_not_found(movies):
    code, body = serving.recommend_endpoint(movies, {"title": "zzz no such movie qqq"})
    assert (code, body) == (404, {"error": "Movie not found"})


def test_recommend_disambiguation(movies):
    code, body = serving.recommend_endpoint(movies, {"title": "Star"})
    assert code == 200
    assert body["message"] == "Multiple movies found, please select one"
    assert 1 < len(body["movies"]) <= 5
    assert all(set(m) == {"movieId", "title"} for m in body["movies"])


def test_recommend_golden_toy_story(movies):
    """The canonical /recommend golden answer: Toy Story resolves to
    movieId 1 with its known genres; 5 genre-overlapping recs follow."""
    code, body = serving.recommend_endpoint(movies, {"title": "Toy Story"})
    assert code == 200
    assert set(body) == {"movie", "recommendations"}
    movie = body["movie"]
    assert set(movie) == DOC_KEYS
    assert movie["movieId"] == 1
    assert movie["title"] == "Toy Story (1995)"
    assert movie["release_date"] == "01-Jan-1995"
    assert movie["genres"] == ["Animation", "Childrens", "Comedy"]
    recs = body["recommendations"]
    assert len(recs) == 5
    for r in recs:
        assert set(r) == DOC_KEYS
        assert r["movieId"] != 1
        assert set(r["genres"]) & set(movie["genres"])


def test_recommend_keyword_fallback_branch(frame, movies):
    """A movie with no genres must route to the title-keyword path
    (api.py:119-135). MovieLens-100k's 'unknown'-genre movies have empty
    name-arrays in the index."""
    empty = (
        frame.filter(F.coalesce(F.size("genres"), F.lit(0)) == 0)
        .select("movieId", "title")
        .collect()
    )
    assert empty, "corpus assumption: some movie lacks genres"
    # find one whose title phrase-lookup is unique so the flow reaches
    # the recommendation branch
    for row in empty:
        status, _ = serving.backend(movies).lookup_title(movies, row.title, size=5)
        if status == "unique":
            code, body = serving.recommend_endpoint(movies, {"title": row.title})
            assert code == 200
            assert body["movie"]["movieId"] == row.movieId
            assert body["movie"]["genres"] == []
            for r in body["recommendations"]:
                assert set(r) == DOC_KEYS and r["movieId"] != row.movieId
            return
    pytest.skip("no genre-less movie with a unique title lookup")


# ---------------------------------------------------------------------------
# GET /movie/<id> (api.py:164-184)
# ---------------------------------------------------------------------------

def test_movie_golden(movies):
    code, body = serving.movie_endpoint(movies, 1)
    assert code == 200
    assert set(body) == DOC_KEYS
    assert body["title"] == "Toy Story (1995)"
    # the route passes ids as strings (api.py:170)
    assert serving.movie_endpoint(movies, "1") == (code, body)


def test_movie_not_found(movies):
    assert serving.movie_endpoint(movies, 999_999) == (404, {"error": "Movie not found"})


def test_movie_bad_id_is_500(movies):
    """A non-numeric id makes the reference's ES term query throw → its
    500 branch (api.py:182-184)."""
    code, body = serving.movie_endpoint(movies, "abc")
    assert code == 500 and "Error retrieving movie" in body["error"]


# ---------------------------------------------------------------------------
# GET /search (api.py:186-238)
# ---------------------------------------------------------------------------

def test_search_missing_q(movies):
    assert serving.search_endpoint(movies, {}) == (
        400,
        {"error": "Query parameter 'q' is required"},
    )


def test_search_golden_fuzzy(frame, movies):
    """Typo'd query still ranks Star Wars on page 1; response carries the
    _source docs (no _score), echoed page/size, and the full hit total."""
    code, body = serving.search_endpoint(movies, {"q": "stor wars", "page": 1, "size": 5})
    assert code == 200
    assert set(body) == {"movies", "page", "size", "total"}
    assert body["page"] == 1 and body["size"] == 5
    assert len(body["movies"]) == 5
    assert all(set(m) == DOC_KEYS for m in body["movies"])
    titles = " ".join(m["title"] for m in body["movies"]).lower()
    assert "star wars" in titles
    assert body["total"] == len(movierec.search_hits(frame, "stor wars"))
    assert body["total"] >= 5


def test_search_pages_partition(movies):
    p1 = serving.search_endpoint(movies, {"q": "stor wars", "page": 1, "size": 5})[1]
    p2 = serving.search_endpoint(movies, {"q": "stor wars", "page": 2, "size": 5})[1]
    ids1 = {m["movieId"] for m in p1["movies"]}
    ids2 = {m["movieId"] for m in p2["movies"]}
    assert ids1.isdisjoint(ids2)


def test_search_clamps_match_reference(movies):
    """page < 1 → 1; size outside 1..100 → reset to the DEFAULT 10, not
    clamped to the bound (api.py:201-204)."""
    body = serving.search_endpoint(movies, {"q": "star", "page": 0, "size": 5})[1]
    assert body["page"] == 1
    body = serving.search_endpoint(movies, {"q": "star", "size": 200})[1]
    assert body["size"] == 10
    body = serving.search_endpoint(movies, {"q": "star", "size": 0})[1]
    assert body["size"] == 10


def test_search_bad_pagination_is_500(movies):
    """Non-integer page hits the int() inside the try block → the 500
    branch (api.py:236-238)."""
    code, body = serving.search_endpoint(movies, {"q": "star", "page": "x"})
    assert code == 500 and "Error during search" in body["error"]


# ---------------------------------------------------------------------------
# GET /health, GET / (api.py:240-263)
# ---------------------------------------------------------------------------

def test_health(movies):
    code, body = serving.health_endpoint(movies)
    assert (code, body) == (200, {"status": "OK", "engine": "OK", "version": "1.0.0"})
    code, body = serving.health_endpoint(None)
    assert code == 503 and body["engine"] == "NOT CONNECTED"


def test_index_doc(movies):
    code, body = serving.index_endpoint()
    assert code == 200
    assert set(body["endpoints"]) == {"/recommend", "/movie/<id>", "/search", "/health"}
