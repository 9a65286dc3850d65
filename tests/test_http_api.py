"""Integration test: the reference's curl experience over REAL HTTP.

A werkzeug server hosts the Flask transport (http_api.create_app) on an
ephemeral localhost port; plain urllib requests exercise every route and
the reference's branch statuses (200 / 400 / 404 / disambiguation /
503-unavailable / unknown-endpoint), against the serving index
published and loaded back into memory. Skips cleanly where flask or the
reference data are absent."""

from __future__ import annotations

import json
import os
import threading
import urllib.error
import urllib.request

import pytest

flask = pytest.importorskip("flask")

from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark import (  # noqa: E402
    http_api,
    pipelines,
)
from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.operators import (  # noqa: E402
    movierec,
)

DATA = "/root/reference/data"


@pytest.fixture(scope="module")
def base_url(spark, tmp_path_factory):
    from werkzeug.serving import make_server

    if not os.path.exists(f"{DATA}/u.item"):
        pytest.skip("reference data not present")
    frame = pipelines.build_movie_index(spark, f"{DATA}/u.item")
    index_dir = str(tmp_path_factory.mktemp("movieindex"))
    movierec.write_movie_index(movierec.build_movie_index_tables(frame), index_dir)
    idx = movierec.load_movie_index(spark, index_dir)
    server = make_server("127.0.0.1", 0, http_api.create_app(idx))
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{server.server_port}"
    server.shutdown()
    t.join(timeout=10)


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
