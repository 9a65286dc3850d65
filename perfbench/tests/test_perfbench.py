"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for dirpath, _dirs, files in sorted(os.walk(path)):
        for f in sorted(files):
            h.update(f.encode())
            with open(os.path.join(dirpath, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _write_all(out: str, seed: int) -> tuple[dict, dict, list]:
    truth = gen.write_movielens(os.path.join(out, "ml"), seed, 300, n_users=30)
    corpus = gen.write_corpus(os.path.join(out, "cur"), seed, 200, n_queries=10)
    gen.write_star(os.path.join(out, "star"), seed, 300)
    stream, _props = gen.serve_requests(truth, seed, 100)
    return truth, corpus, stream


def test_generator_is_byte_identical_per_seed(tmp_path):
    _t, _c, s1 = _write_all(str(tmp_path / "a"), 7)
    _t, _c, s2 = _write_all(str(tmp_path / "b"), 7)
    _t, _c, s3 = _write_all(str(tmp_path / "c"), 8)
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert _digest(str(tmp_path / "a")) != _digest(str(tmp_path / "c"))
    assert s1 == s2 and s1 != s3


def test_movielens_formats(tmp_path):
    truth = gen.write_movielens(str(tmp_path), 3, 100, n_users=5)
    with open(tmp_path / "u.item", encoding="latin-1") as fh:
        rows = [line.rstrip("\n").split("|") for line in fh]
    assert len(rows) == 100 and all(len(r) == 24 for r in rows)
    with open(tmp_path / "u.data") as fh:
        ratings = [line.split("\t") for line in fh.read().splitlines()]
    assert len(ratings) == truth["n_ratings"] and all(len(r) == 4 for r in ratings)
    per_user = {}
    for u, *_ in ratings:
        per_user[u] = per_user.get(u, 0) + 1
    assert min(per_user.values()) >= 20


def test_request_mix_is_fixed_per_block(tmp_path):
    truth = gen.write_movielens(str(tmp_path), 1, 500)
    stream, props = gen.serve_requests(truth, 1, 200)
    for b in range(0, 200, 20):
        kinds = [r[0] for r in stream[b:b + 20]]
        assert (kinds.count("search"), kinds.count("recommend"), kinds.count("movie"),
                kinds.count("health")) == (10, 6, 3, 1)
    assert 0.0 <= props["repeat_rate"] < 1.0


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
    assert [w["name"] for w in spec["workloads"]] == ["serve", "batch"]


def test_recs_check_catches_a_dropped_row():
    rows = [(u, i, 1.5) for u in (1, 2) for i in range(10)]
    assert checks.recs(rows, [1, 2]) == []
    assert checks.recs(rows[1:], [1, 2])
    assert checks.recs(rows[:-1] + [(2, 99, float("nan"))], [1, 2])


def test_index_check_catches_a_wrong_genre():
    movies = [(1, "A (1990)", "", ["Drama"]), (2, "B (1991)", "", [])]
    assert checks.index_docs([(1, "A (1990)", ["Drama"]), (2, "B (1991)", None)], movies) == []
    assert checks.index_docs([(1, "A (1990)", ["Comedy"]), (2, "B (1991)", None)], movies)
    assert checks.index_docs([(1, "A (1990)", ["Drama"])], movies)


def test_serve_check_catches_a_wrong_search_total():
    req = ("search", "GET", "/search", {"q": "qxabc", "page": "1", "size": "10"}, None,
           {"status": 200, "total": 0})
    assert checks.serve_response(req, 200, {"movies": [], "total": 0}, []) == []
    assert checks.serve_response(req, 200, {"movies": [], "total": 3}, [])
    movie = ("movie", "GET", "/movie/1", None, None, {"status": 200, "title": "A", "genres": ["War"]})
    assert checks.serve_response(movie, 200, {"title": "A", "genres": ["War"]}, []) == []
    assert checks.serve_response(movie, 404, {"error": "Movie not found"}, [])
    assert checks.same_reply(req, (200, {"total": 1}), (200, {"total": 2}))


def test_curation_checks_catch_a_missing_planted_pair():
    planted = [(1, 2), (3, 4)]
    verified = [(1, 2, 0.8), (3, 4, 0.7)]
    assert checks.near_pairs(verified, planted, 0.5, 1.0)[0] == []
    assert checks.near_pairs(verified[:1], planted, 0.5, 1.0)[0]
    assert checks.near_pairs(verified + [(5, 6, 0.2)], planted, 0.5, 1.0)[0]
    assert checks.exact_groups([(1, 3)], [(1, 2), (1, 9)]) == []
    assert checks.exact_groups([(1, 2)], [(1, 2), (1, 9)])


def test_ann_check_catches_a_wrong_score_and_low_recall():
    rng = np.random.default_rng(0)
    emb = rng.normal(size=(50, 8)).astype(np.float32)
    unit = emb / np.linalg.norm(emb, axis=1, keepdims=True)
    rows = []
    for q in (0, 1):
        sims = unit @ unit[q]
        sims[q] = -np.inf
        rows += [(q, int(d), round(float(sims[d]), 4)) for d in np.argsort(-sims)[:3]]
    assert checks.ann(rows, emb, [0, 1], 3, 1.0)[0] == []
    assert checks.ann([(q, d, s + 0.1) for q, d, s in rows], emb, [0, 1], 3, 0.0)[0]
    assert checks.ann(rows[:3], emb, [0, 1], 3, 0.9)[0]


def test_result_hash_is_order_insensitive_and_value_sensitive():
    a = checks.result_hash(["x", "y"], [(1, 2.0), (3, 4.0)])
    assert a == checks.result_hash(["y", "x"], [(4.0, 3), (2.0, 1)])
    assert a != checks.result_hash(["x", "y"], [(1, 2.0), (3, 4.5)])


def test_exits_nonzero_without_the_package(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__", "tests"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "serve", "--seed", "1",
                        "--seconds", "1", "--trace", "0"], cwd=tmp_path, capture_output=True,
                       text=True, timeout=120)
    assert p.returncode != 0 and p.stdout == ""
