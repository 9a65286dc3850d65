"""HTTP transport over the serving-edge adapter — the reference's Flask
API (``/root/reference/src/api.py``) end-to-end.

:mod:`.serving` already implements every route as a pure
request→(status, JSON) function; this module is ONLY the transport
binding: URL rules, HTTP methods, JSON (de)serialization, and the
reference's engine-unavailable / unknown-endpoint branches
(api.py:26,54-71,240-268). Flask is imported lazily inside
:func:`create_app` so the engine core has no web-framework dependency —
environments without flask simply never call this module.

Route ↔ reference map (methods and status codes identical):

- ``POST /recommend``  → :func:`serving.recommend_endpoint` (api.py:74)
- ``GET /movie/<id>``  → :func:`serving.movie_endpoint`     (api.py:164)
- ``GET /search``      → :func:`serving.search_endpoint`    (api.py:186)
- ``GET /health``      → :func:`serving.health_endpoint`    (api.py:240)
- ``GET /``            → :func:`serving.index_endpoint`     (api.py:251)
- unknown path         → 404 ``{"error": "Endpoint not found"}`` (api.py:64)
- engine unavailable   → 503 ``{"error": "Service temporarily
  unavailable"}`` on the three data routes (the ``require_elasticsearch``
  decorator, api.py:54-61)
"""

from __future__ import annotations

from typing import Any

from . import serving


def create_app(movies: Any):
    """App factory: ``movies`` is a loaded
    :class:`~.operators.movieindex.MovieIndex` (production: publish the
    index offline, map it once with ``movieindex.load``, pass it here;
    every request is answered by the :mod:`.operators.movieindex` flows
    from process memory without a Spark job) or the raw movies DataFrame
    (the :mod:`.operators.movierec` oracle flows plan Spark frames per
    request); :func:`serving.backend` picks the flows once per request.
    ``None`` models the reference's lost-backend state."""
    from flask import Flask, jsonify, request

    app = Flask("movie_api")

    def _unavailable():
        return jsonify({"error": "Service temporarily unavailable"}), 503

    @app.errorhandler(404)
    def not_found(error):  # api.py:63-65
        return jsonify({"error": "Endpoint not found"}), 404

    @app.route("/recommend", methods=["POST"])
    def recommend():
        if movies is None:
            return _unavailable()
        body = request.get_json(silent=True)
        status, payload = serving.recommend_endpoint(movies, body)
        return jsonify(payload), status

    @app.route("/movie/<movie_id>", methods=["GET"])
    def movie(movie_id):
        if movies is None:
            return _unavailable()
        status, payload = serving.movie_endpoint(movies, movie_id)
        return jsonify(payload), status

    @app.route("/search", methods=["GET"])
    def search():
        if movies is None:
            return _unavailable()
        status, payload = serving.search_endpoint(movies, request.args.to_dict())
        return jsonify(payload), status

    @app.route("/health", methods=["GET"])
    def health():
        status, payload = serving.health_endpoint(movies)
        return jsonify(payload), status

    @app.route("/", methods=["GET"])
    def index():
        status, payload = serving.index_endpoint()
        return jsonify(payload), status

    return app
