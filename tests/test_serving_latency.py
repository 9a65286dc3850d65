"""Regression bound on the serving-latency artifact (round-9 verdict
task 4): the four endpoints' cached-index (hot-serving) p95 must stay
within generous per-endpoint bounds. The bounds are ~4x the quiet-host
measurements — loose enough for a noisy hypervisor window, tight enough
that the real failure mode (a per-request corpus re-tokenize or index
rebuild, which multiplies latency ~10x) cannot pass. That a loaded index
answers every endpoint without a Spark job is enforced structurally in
tests/test_serving_differential.py::test_loaded_index_runs_no_spark_jobs."""

from __future__ import annotations

import json
import os

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ARTIFACT = os.path.join(HERE, "BENCH_serving_r12.json")

# ~4x the quiet-host cached p95s (BENCH_serving_r12.json: health 70,
# movie 40, recommend 155, search 208 — the round-12 posture: the
# in-memory terms dictionary makes fuzzy expansion pure Python, and
# literal frames build as ONE inline() SQL expression instead of
# per-value py4j Column calls). The re-tokenize / per-request
# createDataFrame failure modes multiply these ~4-10x.
P95_BOUNDS_MS = {
    "health": 300.0,
    "movie": 170.0,
    "search": 850.0,
    "recommend": 650.0,
}

# Round-11 verdict task 10 "done" bar: /search p95 <= 300 ms on the
# cached-index posture (measured p95 208 / p50 186 ms; r11 sat at
# p95 409, the pre-round-11 path at p50 1261). The committed-artifact
# pin holds the <= 300 line; this re-run bound allows ~1.6x host noise.
P50_BOUNDS_MS = {"search": 300.0}


def test_serving_latency_bounds():
    if not os.path.exists(ARTIFACT):
        pytest.skip("no committed serving-latency artifact")
    art = json.load(open(ARTIFACT))
    eps = art["endpoints"]
    assert set(P95_BOUNDS_MS) <= set(eps), "artifact missing endpoints"
    for name, bound in P95_BOUNDS_MS.items():
        p95 = eps[name]["p95_ms"]
        assert p95 <= bound, (
            f"{name} cached-index p95 {p95} ms exceeds {bound} ms — "
            f"per-request work regressed (re-tokenize/rebuild crept in?)"
        )
        assert eps[name]["n"] >= 20, f"{name}: too few requests for a p95"
    for name, bound in P50_BOUNDS_MS.items():
        p50 = eps[name]["p50_ms"]
        assert p50 <= bound, (
            f"{name} cached-index p50 {p50} ms exceeds {bound} ms — the "
            f"indexed serving posture regressed (per-request vocab "
            f"rebuild or createDataFrame crept back in?)"
        )
