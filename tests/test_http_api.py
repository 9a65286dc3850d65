"""Integration test: the reference's curl experience over REAL HTTP.

A werkzeug server hosts the Flask transport (http_api.create_app) on an
ephemeral localhost port; plain urllib requests exercise every route and
the reference's branch statuses (200 / 400 / 404 / disambiguation /
503-unavailable / unknown-endpoint), against the serving index
published and loaded back into memory. The tests that assert ML-100k
answers skip where the reference data are absent; their twins serve a
generated catalog (``perfbench/gen.py``), published and mapped with
``movieindex.load``, from a threaded server, and take their expected
answers from the generator's ground truth. Skips cleanly where flask is
absent."""

from __future__ import annotations

import contextlib
import json
import os
import threading
import urllib.error
import urllib.parse
import urllib.request

import pytest

flask = pytest.importorskip("flask")

from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark import (  # noqa: E402
    http_api,
    pipelines,
)
from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.operators import (  # noqa: E402
    movieindex,
    movierec,
)

from perfbench import gen  # noqa: E402

DATA = "/root/reference/data"
SEED = 11
N_MOVIES = 1_500


@contextlib.contextmanager
def _served(index):
    """``http_api.create_app(index)`` on an ephemeral localhost port, one
    thread per request; yields the base URL."""
    from werkzeug.serving import make_server

    server = make_server("127.0.0.1", 0, http_api.create_app(index), threaded=True)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    try:
        yield f"http://127.0.0.1:{server.server_port}"
    finally:
        server.shutdown()
        t.join(timeout=10)


def _publish(spark, item_path: str, index_dir: str) -> None:
    frame = pipelines.build_movie_index(spark, item_path)
    movierec.write_movie_index(movierec.build_movie_index_tables(frame), index_dir)


@pytest.fixture(scope="module")
def base_url(spark, tmp_path_factory):
    if not os.path.exists(f"{DATA}/u.item"):
        pytest.skip("reference data not present")
    index_dir = str(tmp_path_factory.mktemp("movieindex"))
    _publish(spark, f"{DATA}/u.item", index_dir)
    with _served(movierec.load_movie_index(spark, index_dir)) as url:
        yield url


@pytest.fixture(scope="module")
def generated(spark, tmp_path_factory):
    """The base URL of a generated catalog's mapped index, and the
    generator's first request of each kind with its expected reply."""
    ml, index_dir = tmp_path_factory.mktemp("ml"), str(tmp_path_factory.mktemp("genindex"))
    truth = gen.write_movielens(str(ml), SEED, N_MOVIES)
    _publish(spark, str(ml / "u.item"), index_dir)
    stream, _props = gen.serve_requests(truth, SEED, 40)

    def first(ep, **exp):
        return next(r for r in stream if r[0] == ep and exp.items() <= r[5].items() and "genreless" not in r[5])

    kinds = {
        "unique": first("recommend", status=200), "ambiguous": first("recommend", ambiguous=True),
        "unknown": first("recommend", status=404), "movie": first("movie", status=200),
    }
    with _served(movieindex.load(index_dir)) as url:
        yield url, kinds


def _get(url: str):
    try:
        with urllib.request.urlopen(url) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def _post(url: str, body: dict | None):
    data = json.dumps(body).encode() if body is not None else b"not json"
    req = urllib.request.Request(
        url, data=data, headers={"Content-Type": "application/json"}, method="POST"
    )
    try:
        with urllib.request.urlopen(req) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_http_recommend_branches(base_url):
    code, body = _post(f"{base_url}/recommend", {"title": "Toy Story"})
    assert code == 200 and body["movie"]["movieId"] == 1
    assert len(body["recommendations"]) == 5

    code, body = _post(f"{base_url}/recommend", {"title": "Star"})
    assert code == 200 and body["message"].startswith("Multiple movies")

    code, body = _post(f"{base_url}/recommend", {"title": "zzz no such movie"})
    assert (code, body) == (404, {"error": "Movie not found"})

    code, body = _post(f"{base_url}/recommend", {"nope": 1})
    assert (code, body) == (400, {"error": "Title is required"})

    code, body = _post(f"{base_url}/recommend", None)  # malformed JSON body
    assert (code, body) == (400, {"error": "Invalid JSON"})


def test_http_movie_routes(base_url):
    code, body = _get(f"{base_url}/movie/1")
    assert code == 200 and body["title"] == "Toy Story (1995)"
    code, body = _get(f"{base_url}/movie/999999")
    assert (code, body) == (404, {"error": "Movie not found"})
    code, body = _get(f"{base_url}/movie/abc")
    assert code == 500 and "Error retrieving movie" in body["error"]


def test_http_search_route(base_url):
    code, body = _get(f"{base_url}/search?q=stor%20wars&page=1&size=5")
    assert code == 200
    assert body["page"] == 1 and body["size"] == 5 and len(body["movies"]) == 5
    assert "star wars" in " ".join(m["title"] for m in body["movies"]).lower()
    code, body = _get(f"{base_url}/search")
    assert (code, body) == (400, {"error": "Query parameter 'q' is required"})


def test_http_health_index_and_404(base_url):
    code, body = _get(f"{base_url}/health")
    assert (code, body) == (200, {"status": "OK", "engine": "OK", "version": "1.0.0"})
    code, body = _get(f"{base_url}/")
    assert code == 200 and set(body["endpoints"]) == {
        "/recommend",
        "/movie/<id>",
        "/search",
        "/health",
    }
    code, body = _get(f"{base_url}/no/such/route")
    assert (code, body) == (404, {"error": "Endpoint not found"})


def test_http_engine_unavailable_is_503(spark):
    """The reference's require_elasticsearch branch (api.py:54-61): data
    routes 503 when the backend is gone; /health reports NOT CONNECTED."""
    client = http_api.create_app(None).test_client()
    assert client.post("/recommend", json={"title": "x"}).status_code == 503
    assert client.get("/movie/1").status_code == 503
    assert client.get("/search?q=x").status_code == 503
    r = client.get("/health")
    assert r.status_code == 503 and r.get_json()["engine"] == "NOT CONNECTED"


def test_http_recommend_branches_generated(generated):
    url, kinds = generated
    unique, ambiguous, unknown = kinds["unique"], kinds["ambiguous"], kinds["unknown"]
    code, body = _post(f"{url}/recommend", unique[4])
    assert code == 200 and body["movie"]["movieId"] == unique[5]["movieId"]
    assert len(body["recommendations"]) == 5
    assert unique[5]["movieId"] not in {r["movieId"] for r in body["recommendations"]}

    code, body = _post(f"{url}/recommend", ambiguous[4])
    assert code == 200 and body["message"].startswith("Multiple movies") and len(body["movies"]) > 1

    code, body = _post(f"{url}/recommend", unknown[4])
    assert (code, body) == (404, {"error": "Movie not found"})

    code, body = _post(f"{url}/recommend", {"nope": 1})
    assert (code, body) == (400, {"error": "Title is required"})

    code, body = _post(f"{url}/recommend", None)  # malformed JSON body
    assert (code, body) == (400, {"error": "Invalid JSON"})


def test_http_movie_routes_generated(generated):
    url, kinds = generated
    _ep, _m, path, _a, _b, exp = kinds["movie"]
    code, body = _get(url + path)
    assert code == 200 and (body["title"], body["genres"]) == (exp["title"], exp["genres"])
    code, body = _get(f"{url}/movie/{N_MOVIES + 1}")
    assert (code, body) == (404, {"error": "Movie not found"})
    code, body = _get(f"{url}/movie/abc")
    assert code == 500 and "Error retrieving movie" in body["error"]


def test_http_search_route_generated(generated):
    """A title with one typo in its longest word finds that movie on the
    first page."""
    url, kinds = generated
    title, mid = kinds["unique"][4]["title"], kinds["unique"][5]["movieId"]
    words = gen.norm_title(title).split()
    w = max(words, key=len)
    typo = w[:1] + ("q" if w[1] != "q" else "x") + w[2:]
    q = " ".join(typo if x == w else x for x in words)
    code, body = _get(f"{url}/search?" + urllib.parse.urlencode({"q": q, "page": 1, "size": 10}))
    assert code == 200 and body["page"] == 1 and body["size"] == 10
    assert mid in [m["movieId"] for m in body["movies"]], (q, body)
    code, body = _get(f"{url}/search")
    assert (code, body) == (400, {"error": "Query parameter 'q' is required"})


def test_http_health_index_and_404_generated(generated):
    url, _kinds = generated
    code, body = _get(f"{url}/health")
    assert (code, body) == (200, {"status": "OK", "engine": "OK", "version": "1.0.0"})
    code, body = _get(f"{url}/")
    assert code == 200 and set(body["endpoints"]) == {"/recommend", "/movie/<id>", "/search", "/health"}
    code, body = _get(f"{url}/no/such/route")
    assert (code, body) == (404, {"error": "Endpoint not found"})
