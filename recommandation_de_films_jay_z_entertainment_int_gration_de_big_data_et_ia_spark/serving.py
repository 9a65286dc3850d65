"""Serving-edge adapter: the reference's REST endpoints as pure
request→(status, JSON) functions.

Each function mirrors one Flask route of the reference API
(``/root/reference/src/api.py``) — same request validation, same branch
structure (400 / 404 / disambiguation / pagination clamps), same response
JSON shape — but calls the engine's flows instead of Elasticsearch query
DSL. Each request picks its flows once (:func:`backend`): those of
:mod:`.operators.movieindex` answer a loaded ``MovieIndex`` (production)
from memory without a Spark job (this module and :mod:`.http_api`
import no pyspark), and the oracle flows of :mod:`.operators.movierec`
plan Spark frames over the raw movies frame; the replies are identical
(tests/test_serving_differential.py). A web framework would wrap these
1:1; none is imported here.

Endpoint ↔ reference map:

- :func:`recommend_endpoint`  ↔ ``POST /recommend``  (api.py:74-162)
- :func:`movie_endpoint`      ↔ ``GET /movie/<id>``  (api.py:164-184)
- :func:`search_endpoint`     ↔ ``GET /search``      (api.py:186-238)
- :func:`health_endpoint`     ↔ ``GET /health``      (api.py:240-249)
- :func:`index_endpoint`      ↔ ``GET /``            (api.py:251-263)

Documents use the ES ``_source`` shape the reference indexes
(``src/elasticsearch_ingest.py:126-132``):
``{"movieId": int, "title": str, "release_date": str|None,
"genres": [str]}``.
"""

from __future__ import annotations

from types import ModuleType
from typing import TYPE_CHECKING, Any

from .operators import movieindex
from .operators.movieindex import MovieIndex

if TYPE_CHECKING:
    from pyspark.sql import DataFrame

VERSION = "1.0.0"
Response = tuple[int, dict[str, Any]]
# Lucene's default maxClauseCount: a /search with more distinct terms is
# refused, as Elasticsearch refuses it with ``too_many_clauses``
MAX_QUERY_TERMS = 1024
# the movieIds a backend can hold: signed 64-bit, as Spark's LongType
MOVIE_IDS = range(-2**63, 2**63)


def backend(movies: DataFrame | MovieIndex) -> ModuleType:
    """The flow module that answers for ``movies``: the index flows for a
    loaded index, the raw-frame oracle flows for the movies frame. Only
    the latter imports pyspark, so a server of a loaded index runs
    without it."""
    if isinstance(movies, MovieIndex):
        return movieindex
    from .operators import movierec

    return movierec


def _doc(d: dict) -> dict[str, Any]:
    """Document → ES ``_source`` document, with the reference ingest's
    coercions: genres None→[] (elasticsearch_ingest.py:115-124),
    release_date falsy→None (:130)."""
    return {
        "movieId": int(d["movieId"]),
        "title": str(d["title"]),
        "release_date": str(d["release_date"]) if d.get("release_date") else None,
        "genres": list(d["genres"]) if d.get("genres") else [],
    }


def recommend_endpoint(movies: DataFrame | MovieIndex, body: dict | None) -> Response:
    """``POST /recommend`` (api.py:74-162): title lookup with 404 /
    disambiguation branches, then genre-overlap recommendations — or the
    title-keyword fallback when the movie has no genres, with keywords
    taken from the REQUEST title (api.py:124), words longer than 3 chars,
    minimum_should_match=1. A body that is not a JSON object is invalid
    and a title that is not a string is missing, as 400s."""
    if not body or not isinstance(body, dict):
        return 400, {"error": "Invalid JSON"}
    movie_title = body.get("title")
    if not movie_title or not isinstance(movie_title, str):
        return 400, {"error": "Title is required"}

    flows = backend(movies)
    status, hits = flows.lookup_title(movies, movie_title, size=5)
    if status == "none":
        return 404, {"error": "Movie not found"}
    if status == "ambiguous":
        return 200, {
            "message": "Multiple movies found, please select one",
            "movies": [{"movieId": int(r["movieId"]), "title": r["title"]} for r in hits],
        }
    movie = _doc(hits[0])
    if not movie["genres"]:
        recs = flows.recommend_by_title_keywords(movies, movie["movieId"], movie_title, k=5, min_len=4)
    else:
        recs = flows.recommend_by_genre_overlap(movies, movie["movieId"], movie["genres"], k=5)
    return 200, {"movie": movie, "recommendations": [_doc(r) for r in recs]}


def movie_endpoint(movies: DataFrame | MovieIndex, movie_id) -> Response:
    """``GET /movie/<id>`` (api.py:164-184): exact-id lookup. A
    non-numeric id makes the reference's ES term query throw, surfacing
    as its 500 branch — mirrored here. An id outside :data:`MOVIE_IDS`
    holds no movie, and is answered 404 before either backend runs."""
    try:
        mid = int(str(movie_id))
    except (TypeError, ValueError) as e:
        return 500, {"error": f"Error retrieving movie: {e}"}
    doc = backend(movies).movie_by_id(movies, mid) if mid in MOVIE_IDS else None
    if doc is None:
        return 404, {"error": "Movie not found"}
    return 200, _doc(doc)


def search_endpoint(movies: DataFrame | MovieIndex, args: dict) -> Response:
    """``GET /search`` (api.py:186-238): fuzzy multi_match over
    title^3 + genres with offset pagination. Clamps mirror the reference
    exactly: page < 1 → 1; size outside 1..100 → reset to the DEFAULT 10
    (not clamped to the bound); non-integer page/size hits the int() in
    the try block → the 500 branch. ``total`` is the full hit count
    (hits.total.value), independent of the page window. A query with
    more than :data:`MAX_QUERY_TERMS` distinct terms is refused through
    the 500 branch before either backend plans anything."""
    query = args.get("q")
    if not query:
        return 400, {"error": "Query parameter 'q' is required"}
    try:
        n_terms = len(set(movieindex.query_terms(query)))
        if n_terms > MAX_QUERY_TERMS:
            raise ValueError(
                f"too_many_clauses: {n_terms} distinct query terms, "
                f"more than {MAX_QUERY_TERMS}")
        page = int(args.get("page", 1))
        size = int(args.get("size", 10))
        if page < 1:
            page = 1
        if size < 1 or size > 100:
            size = 10
        rows, total = backend(movies).search_page(movies, query, (page - 1) * size, size)
        return 200, {
            "movies": [_doc(r) for r in rows],
            "page": page,
            "size": size,
            "total": total,
        }
    except Exception as e:  # noqa: BLE001 — mirrors api.py:236-238
        return 500, {"error": f"Error during search: {e}"}


def health_endpoint(movies: DataFrame | MovieIndex | None) -> Response:
    """``GET /health`` (api.py:240-249): the backend's ``ping`` (the
    engine's analog of ``es.ping()``). The response keeps the reference's
    keys with ``engine`` standing in for ``elasticsearch``."""
    try:
        ok = movies is not None and backend(movies).ping(movies)
    except Exception:  # noqa: BLE001
        ok = False
    return (200 if ok else 503), {
        "status": "OK",
        "engine": "OK" if ok else "NOT CONNECTED",
        "version": VERSION,
    }


def index_endpoint() -> Response:
    """``GET /`` (api.py:251-263): static API documentation."""
    return 200, {
        "status": "API running",
        "version": VERSION,
        "endpoints": {
            "/recommend": "POST - Get recommendations for a movie (requires title in JSON body)",
            "/movie/<id>": "GET - Get details for a specific movie",
            "/search": "GET - Search for movies (requires q parameter, optional page and size)",
            "/health": "GET - Check API and engine health",
        },
    }
