"""The resident serving index against the raw-DataFrame oracle, on a
generated catalog that needs no reference data.

A seeded 2,000-movie catalog in the MovieLens u.item format
(``perfbench/gen.py``) is published the production way — build → write
→ load — and every endpoint's ``(status, JSON)`` on the loaded
``MovieIndex`` must equal the raw movies frame's, for the benchmark's
request stream and for the edge cases below. The loaded index must also
answer without Spark jobs, stay a point-in-time snapshot of the published
directory, and expand fuzzy terms from its published deletion variants
exactly as a ``_lev_le`` scan of the terms dictionary does; ``_lev_le``
in turn matches Spark's ``levenshtein``. Each request kernel (variant
probe, genre bincount, postings title probe, top-k) is pinned by
Hypothesis to the scan it replaced, on indexes built in Python without
Spark, and no endpoint may iterate every document.
"""

from __future__ import annotations

import dataclasses
import gc
import json
import os
import re
import subprocess
import sys
import threading
import tracemalloc
from collections import Counter
from operator import itemgetter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from perfbench import checks, gen
from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark import (
    http_api,
    pipelines,
    serving,
)
from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.operators import (
    movieindex,
    movierec,
    search,
)

SEED = 7
N_MOVIES = 2_000
N_REQUESTS = 40  # two blocks of the benchmark's 20-request mix


@pytest.fixture(scope="module")
def catalog(tmp_path_factory):
    out = tmp_path_factory.mktemp("ml")
    truth = gen.write_movielens(str(out), SEED, N_MOVIES)
    return str(out / "u.item"), truth


@pytest.fixture(scope="module")
def raw(spark, catalog):
    return pipelines.build_movie_index(spark, catalog[0]).cache()


@pytest.fixture(scope="module")
def index_dir(raw, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("index"))
    movierec.write_movie_index(movierec.build_movie_index_tables(raw), out)
    return out


@pytest.fixture(scope="module")
def index(spark, index_dir):
    return movierec.load_movie_index(spark, index_dir)


@pytest.fixture(scope="module")
def words(catalog):
    """Title words of the catalog, most frequent first."""
    counts = Counter(
        w for _m, title, _d, _g in catalog[1]["movies"] for w in gen.norm_title(title).split()
        if not w.isdigit()
    )
    return [w for w, _n in counts.most_common()]


def _call(movies, ep: str, arg):
    if ep == "search":
        resp = serving.search_endpoint(movies, arg)
    elif ep == "recommend":
        resp = serving.recommend_endpoint(movies, arg)
    elif ep == "movie":
        resp = serving.movie_endpoint(movies, arg)
    else:
        resp = serving.health_endpoint(movies)
    return resp[0], json.loads(json.dumps(resp[1]))


def _arg(req: tuple):
    ep, _method, path, args, body, _exp = req
    return {"search": args, "recommend": body, "movie": path.rsplit("/", 1)[1]}.get(ep)


@pytest.fixture(scope="module")
def stream_oracle(raw, catalog):
    """The benchmark's request stream with the raw frame's reply to each."""
    stream, _props = gen.serve_requests(catalog[1], SEED, N_REQUESTS)
    return [(req, _call(raw, req[0], _arg(req))) for req in stream]


def test_stream_replies_equal_raw_path(stream_oracle, index, catalog):
    """Every request of the benchmark's stream: the loaded index answers
    exactly as the raw frame does, and as the generator's ground truth
    says."""
    kinds = Counter(req[0] for req, _want in stream_oracle)
    assert set(kinds) == {"search", "recommend", "movie", "health"}
    for req, want in stream_oracle:
        got = _call(index, req[0], _arg(req))
        assert got == want, req
        assert checks.serve_response(req, *got, catalog[1]["movies"]) == [], req


def _genreless_unique(index, catalog) -> list[str]:
    return [
        title for _m, title, _d, genres in catalog[1]["movies"]
        if not genres and movieindex.lookup_title(index, title)[0] == "unique"
    ]


def test_edge_cases_equal_raw_path(raw, index, catalog, words):
    common, other = words[0], words[1]
    title = catalog[1]["movies"][0][1]
    requests = [
        ("search", {"q": ""}),
        ("search", {}),
        ("search", {"q": "   "}),
        ("search", {"q": common, "page": "999"}),  # past the last hit
        ("search", {"q": common, "size": "0"}),
        ("search", {"q": common, "size": "200"}),
        ("search", {"q": common, "size": "x"}),
        ("search", {"q": common, "page": "y"}),
        ("search", {"q": common, "page": "-3", "size": "3"}),
        ("search", {"q": f"{common} {common}", "size": "100"}),  # repeated term
        ("search", {"q": f"{common.upper()}, {other}!"}),  # case and punctuation
        ("search", {"q": common[:-1] + "q"}),  # one-edit typo
        ("search", {"q": "drama scifi"}),  # genre terms
        ("search", {"q": "amélie 漢字 😀"}),  # non-ASCII, no hit
        ("search", {"q": "ab"}),  # short term: fuzziness 0
        ("movie", "abc"),
        ("movie", "1.5"),
        ("movie", "999999"),
        ("movie", "0"),
        ("movie", " 3 "),
        ("movie", str(2**63)),  # past signed 64-bit: Py4J cannot pass it as a long
        ("movie", str(10**30)),
        ("movie", str(-2**63 - 1)),
        ("recommend", None),
        ("recommend", {}),
        ("recommend", {"title": ""}),
        ("recommend", {"title": "Zzqx nothing like it"}),
        ("recommend", {"title": common}),  # ambiguous
        ("recommend", {"title": title}),
        ("recommend", [1]),  # valid JSON, not an object
        ("recommend", "x"),
        ("recommend", {"title": 5}),  # a title that is not a string
        ("recommend", {"title": ["a"]}),
        ("health", None),
    ]
    genreless = _genreless_unique(index, catalog)
    assert genreless, "catalog assumption: a genre-less movie with a unique title"
    requests += [("recommend", {"title": t}) for t in genreless[:3]]
    for ep, arg in requests:
        assert _call(index, ep, arg) == _call(raw, ep, arg), (ep, arg)
    for body in ([1], "x"):
        assert _call(index, "recommend", body) == (400, {"error": "Invalid JSON"}), body
    for body in ({"title": 5}, {"title": ["a"]}):
        assert _call(index, "recommend", body) == (400, {"error": "Title is required"}), body
    status, body = _call(index, "recommend", {"title": genreless[0]})
    assert status == 200 and body["movie"]["genres"] == [] and body["recommendations"]
    status, body = _call(index, "recommend", {"title": common})
    assert status == 200 and len(body["movies"]) > 1
    status, body = _call(index, "search", {"q": common, "page": "999"})
    assert status == 200 and body["movies"] == [] and body["total"] > 0


def test_scores_equal_raw_path(raw, index, words, catalog):
    """Beyond the page: every hit and its score, for search and both
    recommendation paths, including a title with repeated long words."""
    def scored(hits):
        return [(d["movieId"], d["score"]) for d in hits]

    for q in (words[0], f"{words[1]} {words[2][:-1]}x drama", f"{words[3]} {words[3]}"):
        scores = movieindex._search_scores(index, q)
        got = scored(movieindex._hits(index, scores, movieindex._top(scores, len(index.ids))[0]))
        assert got == scored(movierec.search_hits(raw, q)) and got, q
    long = [w for w in words if len(w) >= 4]
    for title in (f"{long[0]} {long[0]} {long[1]} (1950)", f"{long[2].title()} ({long[2]})"):
        got = scored(movieindex.recommend_by_title_keywords(index, 1, title, k=20))
        assert got == scored(movierec.recommend_by_title_keywords(raw, 1, title, k=20)) and got, title
    genres = ["Comedy", "Drama", "Drama", "Western"]
    got = scored(movieindex.recommend_by_genre_overlap(index, 2, genres, k=30))
    assert got == scored(movierec.recommend_by_genre_overlap(raw, 2, genres, k=30)) and got


def test_null_fields_equal_raw_path(spark, tmp_path):
    """Null titles, genres and release dates answer as on the frame path."""
    raw = spark.createDataFrame(
        [
            (1, "Alpha Beta (1990)", "01-Jan-1990", ["Drama"]),
            (2, None, None, None),
            (3, "Alpha (1991)", "", []),
            (4, "Beta Beta Gamma (1992)", None, ["Comedy", "Drama"]),
        ],
        "movieId int, title string, release_date string, genres array<string>",
    )
    movierec.write_movie_index(movierec.build_movie_index_tables(raw), str(tmp_path))
    index = movierec.load_movie_index(spark, str(tmp_path))
    for ep, arg in [
        ("search", {"q": "alpha"}),
        ("search", {"q": "drama"}),
        ("movie", "2"),
        ("movie", "3"),
        ("recommend", {"title": "Alpha Beta"}),
        ("recommend", {"title": "Alpha (1991)"}),
        ("recommend", {"title": "beta"}),
    ]:
        assert _call(index, ep, arg) == _call(raw, ep, arg), (ep, arg)


def test_rows_without_movie_id_equal_raw_path(spark, tmp_path):
    """A movies row without a movieId holds no document on either path:
    the index drops it at load and the raw frame's flows skip it, so a
    search finds only movie 1 and a lookup of the dropped title is a
    404."""
    raw = spark.createDataFrame(
        [(1, "Alpha (1990)", None, None), (None, "Alpha Beta", None, None)],
        "movieId int, title string, release_date string, genres array<string>")
    movierec.write_movie_index(movierec.build_movie_index_tables(raw), str(tmp_path))
    index = movierec.load_movie_index(spark, str(tmp_path))
    search_reply = _call(raw, "search", {"q": "alpha"})
    assert _call(index, "search", {"q": "alpha"}) == search_reply
    assert search_reply[0] == 200 and [m["movieId"] for m in search_reply[1]["movies"]] == [1]
    recommend_reply = _call(raw, "recommend", {"title": "alpha beta"})
    assert _call(index, "recommend", {"title": "alpha beta"}) == recommend_reply == (
        404, {"error": "Movie not found"})


def test_oversized_tokens_equal_raw_path(spark, tmp_path):
    """A 5,000-character title token publishes no variant rows and is
    verified directly, with the banded ``_lev_le``; a 10,000-character
    query term generates no variants. Both answer as the raw frame does."""
    token = "ab" * 2_500
    raw = spark.createDataFrame(
        [(1, f"Alpha {token} (1990)", None, ["Drama"]), (2, "Alpha Beta", None, None)],
        "movieId int, title string, release_date string, genres array<string>")
    movierec.write_movie_index(movierec.build_movie_index_tables(raw), str(tmp_path))
    index = movierec.load_movie_index(spark, str(tmp_path))
    variants = index.variants
    assert len(variants.keys) > 0
    assert max(len(variants.words[c]) for c in variants.codes.tolist()) <= movieindex.MAX_VARIANT_LEN
    assert [variants.words[c] for c in variants.long.tolist()] == [token]
    for q in (token, "x" + token[1:], token[:-2], "alpha " + "b" * 10_000, "c" * 10_000):
        got = _call(index, "search", {"q": q})
        assert got == _call(raw, "search", {"q": q}), q[:12]
    assert _call(index, "search", {"q": token[1:-1]})[1]["total"] == 1
    assert _call(index, "search", {"q": "c" * 10_000})[1]["total"] == 0


def test_index_without_variant_file_is_refused(spark, raw, tmp_path):
    """An index directory that lacks any one of the published serving
    files does not load: the error names the missing file."""
    out = str(tmp_path / "index")
    movierec.write_movie_index(movierec.build_movie_index_tables(raw.limit(20)), out)
    for name in movieindex.FILES:
        os.rename(f"{out}/{name}.arrow", f"{out}/{name}.moved")
        with pytest.raises(FileNotFoundError, match=f"{name}.arrow"):
            movierec.load_movie_index(spark, out)
        with pytest.raises(FileNotFoundError, match=f"{name}.arrow"):
            movieindex.load(out)
        os.rename(f"{out}/{name}.moved", f"{out}/{name}.arrow")
    assert len(movieindex.load(out).ids) == 20


_PUBLISH = """
import sys
sys.path.insert(0, sys.argv[1])
import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark import pipelines
from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.operators import (
    movieindex, movierec)
spark = SparkSession.builder.master("local[1]").appName("publish-outside").getOrCreate()
out = sys.argv[3]
for _ in range(2):  # a republish replaces every serving file
    movierec.write_movie_index(movierec.build_movie_index_tables(
        pipelines.build_movie_index(spark, sys.argv[2])), out)
index = movierec.load_movie_index(spark, out)
words = [index.words[c] for c in range(len(index.words))]
assert words == sorted(set(pq.read_table(out + "/postings.parquet")["term"].to_pylist()))
want = movieindex.variant_table(words)
order = np.lexsort((index.variants.deletions, index.variants.codes, index.variants.keys))
got = [index.variants.keys[order], index.variants.codes[order], index.variants.deletions[order]]
want = want.sort_by([("key", "ascending"), ("term", "ascending"), ("deletions", "ascending")])
assert all((g == want[c].to_numpy()).all() for g, c in zip(got, ("key", "term", "deletions")))
print(len(index.ids))
"""


def test_publish_outside_the_checkout(catalog, tmp_path):
    """The publish runs from a working directory outside the checkout,
    with the package on the driver's ``sys.path`` only: no step of it may
    need a Spark Python worker to import the package. Publishing twice
    into one directory leaves exactly the terms of the written postings
    and the variant rows of those terms."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", _PUBLISH, root, catalog[0], str(tmp_path / "index")],
        capture_output=True, text=True, timeout=600, cwd=tmp_path, env=env)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert int(proc.stdout.split()[-1]) == N_MOVIES


def _jobs(spark, label: str, fn) -> int:
    """Spark jobs ``fn`` starts, counted by job group."""
    sc = spark.sparkContext
    gid = f"serving-jobs-{label}"
    sc.setJobGroup(gid, label)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(gid))


def test_loaded_index_runs_no_spark_jobs(spark, raw, index, catalog, words):
    """Every endpoint on a loaded index is answered from process memory.
    The raw frame, run through the same probe, does start jobs, so the
    probe can see them."""
    genreless = _genreless_unique(index, catalog)[0]
    requests = {
        "search": ("search", {"q": f"{words[0]} {words[1][:-1]}x", "page": "2"}),
        "search_miss": ("search", {"q": "qxzzqx"}),
        "recommend": ("recommend", {"title": catalog[1]["movies"][0][1]}),
        "recommend_ambiguous": ("recommend", {"title": words[0]}),
        "recommend_keywords": ("recommend", {"title": genreless}),
        "recommend_unknown": ("recommend", {"title": "Zzqx nothing"}),
        "movie": ("movie", "5"),
        "movie_unknown": ("movie", "999999"),
        "health": ("health", None),
    }
    for label, (ep, arg) in requests.items():
        assert _jobs(spark, label, lambda: _call(index, ep, arg)) == 0, label
    assert _jobs(spark, "raw-search", lambda: _call(raw, "search", {"q": words[0]})) > 0


def test_concurrent_requests_share_the_index(index, catalog):
    """Request threads share one loaded index without locks: with more
    threads than cores and a short switch interval, every reply equals the
    single-threaded one."""
    stream, _props = gen.serve_requests(catalog[1], SEED + 1, 40)
    want = [_call(index, req[0], _arg(req)) for req in stream]
    bad: list = []

    def client(offset: int):
        for i in range(len(stream)):
            j = (i + offset) % len(stream)
            if _call(index, stream[j][0], _arg(stream[j])) != want[j]:
                bad.append(stream[j])

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=client, args=(5 * k,)) for k in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not bad, bad[:3]


def test_loaded_index_heap_per_movie(index_dir):
    """The loaded index keeps its documents and position lists in the
    Arrow files it mapped: the Python heap it holds (tracemalloc) stays
    under 320 bytes per movie of the test catalog (about 9 here), so
    per-document Python objects cannot come back unnoticed (a dict, a
    title and a genre list per movie took about 810)."""
    gc.collect()
    tracemalloc.start()
    try:
        loaded = movieindex.load(index_dir)
        gc.collect()
        held = tracemalloc.get_traced_memory()[0]
    finally:
        tracemalloc.stop()
    assert len(loaded.ids) == N_MOVIES
    assert held / N_MOVIES < 320, held


def test_persisted_index_pit_isolated_from_rebuild(spark, raw, words, tmp_path):
    """A loaded index keeps answering from its load-time snapshot while the
    index directory is appended to and republished — the paginated-session
    guarantee (page N and N+1 see the same corpus) — and its ``docs`` frame
    reads exactly the files the load read. A fresh load sees the append."""
    tables = movierec.build_movie_index_tables(raw)
    idx_dir = str(tmp_path / "movieindex")
    movierec.write_movie_index(tables, idx_dir)

    served = movierec.load_movie_index(spark, idx_dir)
    q = words[0]
    status, page1 = serving.search_endpoint(served, {"q": q, "page": "1", "size": "5"})
    assert status == 200
    total0 = page1["total"]
    assert total0 > 10

    # append 20 matching docs, with their postings, under shifted ids
    ids = [d["movieId"] for d in movieindex.search_page(served, q, 0, 20)[0]]
    bump = F.col("movieId") + 100000
    for name, frame in (("docs", tables.docs), ("postings", tables.postings)):
        frame.filter(F.col("movieId").isin(ids)).withColumn("movieId", bump).write.mode(
            "append").parquet(f"{idx_dir}/{name}.parquet")
    # republish the appended tables into the directory the served index mapped
    movieindex.publish(pq.read_table(f"{idx_dir}/docs.parquet"), pq.read_table(f"{idx_dir}/postings.parquet"),
                       idx_dir)

    status, page2 = serving.search_endpoint(served, {"q": q, "page": "2", "size": "5"})
    assert status == 200
    assert page2["total"] == total0, "the loaded index saw the append"
    assert all(m["movieId"] < 100000 for m in page2["movies"])
    assert {m["movieId"] for m in page1["movies"]}.isdisjoint(
        {m["movieId"] for m in page2["movies"]})
    assert serving.search_endpoint(served, {"q": q, "page": "1", "size": "5"}) == (200, page1)
    assert served.docs.count() == N_MOVIES

    fresh = movierec.load_movie_index(spark, idx_dir)
    assert len(fresh.ids) == fresh.docs.count() == N_MOVIES + 20
    assert serving.search_endpoint(fresh, {"q": q})[1]["total"] == total0 + 20


_NO_SPARK = """
import json, sys
sys.modules["pyspark"] = None  # any pyspark import now raises ImportError
sys.modules["pandas"] = None  # and so does any pandas import
from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark import http_api
from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.operators import (
    movieindex)
index_dir, (calls, requests) = sys.argv[1], json.load(sys.stdin)
index = movieindex.load(index_dir)
client = http_api.create_app(index).test_client()
print(json.dumps([[getattr(movieindex, flow)(index, *args) for flow, args in calls],
                  [[r.status_code, r.get_json()] for r in (client.open(path, method=m, query_string=q, json=b)
                                                           for m, path, q, b in requests)]]))
"""


def test_index_flows_need_no_pyspark(index_dir, index, catalog, words):
    """A process where ``pyspark`` cannot be imported loads the published
    directory (``movieindex.load``), and its flows, and the
    HTTP app's /search, /recommend, /movie/<id> and /health, answer
    exactly as on the index that ``movierec.load_movie_index`` loaded."""
    pytest.importorskip("flask")
    mid, title, _d, genres = next(m for m in catalog[1]["movies"] if m[3])
    genreless = _genreless_unique(index, catalog)[0]
    calls = [
        ("lookup_title", [title]), ("lookup_title", [words[0]]), ("lookup_title", ["Zzqx nothing"]),
        ("recommend_by_genre_overlap", [mid, genres, 5]),
        ("recommend_by_title_keywords", [1, genreless, 5]),
        ("search_page", [f"{words[0]} {words[1][:-1]}x", 0, 10]), ("search_page", [words[2], 5, 5]),
        ("search_page", ["qxzzqx", 0, 10]),
        ("movie_by_id", [mid]), ("movie_by_id", [999_999]),
    ]
    requests = [
        ("GET", "/search", {"q": f"{words[0]} {words[1][:-1]}x"}, None),
        ("GET", "/search", {"q": words[2], "page": "2", "size": "5"}, None),
        ("POST", "/recommend", None, {"title": title}), ("POST", "/recommend", None, {"title": genreless}),
        ("POST", "/recommend", None, {"title": words[0]}), ("POST", "/recommend", None, {"title": "Zzqx nothing"}),
        ("GET", f"/movie/{mid}", None, None), ("GET", "/movie/999999", None, None), ("GET", "/health", None, None),
    ]
    proc = subprocess.run(
        [sys.executable, "-c", _NO_SPARK, index_dir], input=json.dumps([calls, requests]),
        capture_output=True, text=True, timeout=300,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    assert proc.returncode == 0, proc.stderr[-3000:]
    got_flows, got_http = json.loads(proc.stdout)
    want = json.loads(json.dumps([getattr(movieindex, flow)(index, *args) for flow, args in calls]))
    assert got_flows == want
    assert want[0][1] and want[1][0] == "ambiguous" and want[3] and want[5][0] and want[8], want
    client = http_api.create_app(index).test_client()
    want_http = [[r.status_code, r.get_json()] for r in (client.open(path, method=m, query_string=q, json=b)
                                                         for m, path, q, b in requests)]
    assert got_http == want_http
    assert [s for s, _body in want_http] == [200, 200, 200, 200, 200, 404, 200, 404, 200], want_http
    assert want_http[0][1]["movies"] and want_http[4][1]["movies"], want_http


# Small alphabets make near strings likely; the non-ASCII letters cover
# two-byte, three-byte and four-byte (non-BMP) UTF-8 code points.
_WORD = st.text(alphabet="abcé漢😀", max_size=8)


@st.composite
def _near_pair(draw):
    """A word and a copy with up to three random single-character edits."""
    a = draw(_WORD)
    b = list(a)
    for _ in range(draw(st.integers(0, 3))):
        i = draw(st.integers(0, len(b)))
        c = draw(st.sampled_from("abé漢😀"))
        op = draw(st.sampled_from(["insert", "delete", "replace"]))
        if op == "insert" or not b:
            b.insert(i, c)
        elif op == "delete":
            del b[min(i, len(b) - 1)]
        else:
            b[min(i, len(b) - 1)] = c
    return a, "".join(b)


def test_lev_le_matches_spark_levenshtein(spark):
    """``_lev_le(a, b, d) == (levenshtein(a, b) <= d)`` against Spark's
    built-in, for every fuzziness band d in 0..3 — which puts each pair
    on both sides of the length-band exit. Hypothesis draws the pairs;
    Spark scores all of them in one job."""
    pairs: list[tuple[str, str]] = [
        ("", ""), ("", "a"), ("a", ""), ("", "abc"), ("ab", "ba"), ("abc", "abcd"),
        ("abcd", "ab"), ("kitten", "sitting"), ("é", "e"), ("漢", "😀"), ("😀a", "a😀"),
        ("amélie", "amelie"), ("naïve", "naive"),
    ]

    @settings(max_examples=400, deadline=None, database=None,
              suppress_health_check=list(HealthCheck))
    @given(pair=st.one_of(st.tuples(_WORD, _WORD), _near_pair()))
    def collect(pair):
        pairs.append(pair)

    collect()
    frame = spark.createDataFrame(pairs, "a string, b string")
    dist = frame.select("a", "b", F.levenshtein("a", "b").alias("d")).collect()
    assert len(dist) == len(pairs)
    bad = [(r.a, r.b, d, r.d) for r in dist for d in range(4)
           if movierec._lev_le(r.a, r.b, d) != (r.d <= d)]
    assert not bad, bad[:10]


# at most this many ``_lev_le`` checks per query term: the probe's
# candidates (at most 20 here), not the terms dictionary (about 700)
_CHECKS_PER_TERM = 30


def test_search_request_path_does_not_scan_with_lev_le(stream_oracle, index, monkeypatch):
    """The index path verifies only the variant probe's candidates: while
    the benchmark's searches run, ``_lev_le`` checks each query term
    against at most :data:`_CHECKS_PER_TERM` terms, far fewer than the
    terms dictionary holds, and the replies still equal the raw-frame
    oracle's."""
    searches = [(req, want) for req, want in stream_oracle if req[0] == "search"]
    assert len(searches) == 20
    assert len(index.terms) > 20 * _CHECKS_PER_TERM
    calls = []
    scalar = movieindex._lev_le
    monkeypatch.setattr(movieindex, "_lev_le", lambda *a: calls.append(a) or scalar(*a))
    got = [_call(index, "search", _arg(req)) for req, _want in searches]
    per_term = Counter(qt for _t, qt, _d in calls)
    assert per_term and max(per_term.values()) <= _CHECKS_PER_TERM, per_term.most_common(3)
    assert got == [want for _req, want in searches]


def test_index_without_fuzzy_terms_answers(spark, tmp_path):
    """Null titles and no genres leave one posting, the empty genres
    term, which no query term is close enough to: the index builds,
    writes and loads, and ``/search`` answers 200 with no hit, as the
    raw frame does."""
    raw = spark.createDataFrame(
        [(1, None, None, None), (2, None, "01-Jan-1990", [])],
        "movieId int, title string, release_date string, genres array<string>")
    movierec.write_movie_index(movierec.build_movie_index_tables(raw), str(tmp_path))
    index = movierec.load_movie_index(spark, str(tmp_path))
    assert set(index.terms) == {("genres_text", "")}
    for q in ("alpha", "a", "drama 漢字 😀"):
        got = _call(index, "search", {"q": q})
        assert got == _call(raw, "search", {"q": q}) == (
            200, {"movies": [], "page": 1, "size": 10, "total": 0}), q


def test_empty_catalog_file_answers(spark, tmp_path):
    """An empty u.item publishes an index with zero postings; it loads
    and ``/search`` answers 200 with no hit, as the raw frame does."""
    (tmp_path / "u.item").write_text("")
    raw = pipelines.build_movie_index(spark, str(tmp_path / "u.item"))
    movierec.write_movie_index(movierec.build_movie_index_tables(raw), str(tmp_path / "index"))
    index = movierec.load_movie_index(spark, str(tmp_path / "index"))
    assert not index.terms and not len(index.variants.long)
    assert len(index.variants.keys) == len(index.variants.codes) == len(index.variants.deletions) == 0
    got = _call(index, "search", {"q": "alpha"})
    assert got == _call(raw, "search", {"q": "alpha"}) == (
        200, {"movies": [], "page": 1, "size": 10, "total": 0})


# the docs table Spark's build writes
_DOCS_SCHEMA = pa.schema([("movieId", pa.int32()), ("title", pa.string()), ("release_date", pa.string()),
                          ("genres", pa.list_(pa.string())), ("__title_norm", pa.string())])


def _variant_index(terms) -> movieindex.Variants:
    """The variant index of a terms dictionary, published by the
    publish's rule (``serving_tables``) as the title terms of one
    document."""
    terms = sorted(set(terms))
    return _loaded(
        pa.Table.from_pylist([{"movieId": 1}], _DOCS_SCHEMA),
        pa.table({"field": ["title"] * len(terms), "term": terms, "movieId": pa.array([1] * len(terms), pa.int32())}),
    ).variants


def _assert_expansion_exact(terms, qt: str) -> None:
    """The probe's expansion of ``qt`` equals the scalar scan's, with no
    term twice."""
    d = search.auto_fuzziness(qt)
    variants = _variant_index(terms)
    got = [variants.words[c] for c in movieindex._expand(variants, qt, d)]
    assert len(got) == len(set(got)), qt
    assert set(got) == {t for t in terms if movierec._lev_le(t, qt, d)}, (qt, d)


# Code points of one, two, three and four UTF-8 bytes. A published term is
# UTF-8, so only a query term can hold a lone surrogate.
_CHAR = st.sampled_from(["a", "b", "c", "é", "漢", "😀"])


def _text(min_size: int, max_size: int):
    return st.lists(_CHAR, min_size=min_size, max_size=max_size).map("".join)


@settings(max_examples=300, deadline=None, database=None,
          suppress_health_check=list(HealthCheck))
@given(words=st.lists(_text(0, 14), max_size=30), qt=_text(1, 12), cut=st.integers(0, 11))
def test_vectorized_expansion_matches_lev_le(words, qt, cut):
    """Random dictionaries and query terms of length 1-12, so every AUTO
    band (0, 1, 2) is drawn. The dictionary always holds the empty term
    and, for each length within three of the query term's, a prefix or
    an extension of it: its distance is the length difference, so both
    edges of the length band are on both sides of the cut-off. The query
    term is also probed with a lone surrogate for its first character, and
    lengthened beyond every term."""
    m = len(qt)
    near = [qt[:n] if n <= m else qt + qt[cut % m] * (n - m) for n in range(max(0, m - 3), m + 4)]
    terms = {""} | set(words + near)
    _assert_expansion_exact(terms, qt)
    _assert_expansion_exact(terms, "\ud800" + qt[1:])
    longest = max(len(t) for t in terms)
    _assert_expansion_exact(terms, qt + "a" * (longest + 3 - m))  # beyond every term


def test_vectorized_expansion_on_generated_catalog(index, catalog):
    """Every query term of the benchmark's stream on the 2k catalog, and
    a one-edit and a two-edit variant of each, expand as ``_lev_le``
    says, against the loaded index's own published variants."""
    stream, _props = gen.serve_requests(catalog[1], SEED, N_REQUESTS)
    qts = {qt for req in stream if req[0] == "search"
           for qt in req[3].get("q", "").lower().split()}
    assert len(qts) > 10
    terms = {t for _f, t in index.terms}
    for qt in sorted(qts):
        for variant in (qt, qt[:-1] + "q", "z" + qt[1:] + "é", "\ud800" + qt[2:]):
            d = search.auto_fuzziness(variant)
            got = [index.words[c] for c in movieindex._expand(index.variants, variant, d)]
            assert sorted(got) == sorted(t for t in terms if movierec._lev_le(t, variant, d)), variant


# ---- the request kernels against the scans they replace ----------------

# Case variants, punctuation and near code points: near strings and
# anagrams of the query term are likely.
_NEAR_CHAR = st.sampled_from(["a", "A", "!", "á", "ā", "\x81", "q", "b", "漢", "😀"])


def _near_text(min_size: int, max_size: int):
    return st.lists(_NEAR_CHAR, min_size=min_size, max_size=max_size).map("".join)


@settings(max_examples=300, deadline=None, database=None,
          suppress_health_check=list(HealthCheck))
@given(words=st.lists(_near_text(0, 10), max_size=25), qt=_near_text(1, 9),
       perms=st.lists(st.permutations(range(9)), max_size=4), d=st.integers(0, 2))
def test_prefiltered_expansion_matches_lev_le(words, qt, perms, d):
    """The variant probe accepts exactly the terms ``_lev_le`` accepts,
    for every fuzziness it serves (0..2), with anagrams of the query term,
    which share all of its characters; a fuzziness of 3 is refused."""
    anagrams = ["".join(qt[i] for i in p if i < len(qt)) for p in perms]
    terms = set(words + anagrams + [qt])
    variants = _variant_index(terms)
    got = [variants.words[c] for c in movieindex._expand(variants, qt, d)]
    assert len(got) == len(set(got))
    assert set(got) == {t for t in terms if movierec._lev_le(t, qt, d)}, (qt, d)
    with pytest.raises(ValueError):
        movieindex._expand(variants, qt, 3)


def _norm(text: str) -> str:
    return re.sub(r"[^a-z0-9]+", " ", text.lower()).strip()


def _python_index(docs: list[tuple]) -> movieindex.MovieIndex:
    """A loaded index over ``(movieId, title, genres)`` rows: the serving
    tables of :func:`_python_tables` by the publish's rule
    (``serving_tables``)."""
    return _loaded(*_python_tables(docs))


def _python_tables(docs: list[tuple]) -> tuple[pa.Table, pa.Table]:
    """The docs and postings tables over ``(movieId, title, genres)``
    rows, built in Python the way the Spark build writes them: distinct
    tokens of the normalized title and genres text (an empty text is the
    one token ``""``) and ``" " + normalized title + " "``."""
    rows = [
        {"movieId": mid, "title": title, "release_date": None, "genres": genres,
         "__title_norm": None if title is None else f" {_norm(title)} "}
        for mid, title, genres in docs
    ]
    postings = [
        (field, term, mid)
        for mid, title, genres in docs
        for field, text in (("title", title), ("genres_text", " ".join(genres or ())))
        if text is not None
        for term in sorted(set(_norm(text).split(" ")))
    ]
    post = pa.table({"field": pa.array([p[0] for p in postings], pa.string()),
                     "term": pa.array([p[1] for p in postings], pa.string()),
                     "movieId": pa.array([p[2] for p in postings], pa.int32())})
    return pa.Table.from_pylist(rows, _DOCS_SCHEMA), post


def _loaded(docs: pa.Table, postings: pa.Table) -> movieindex.MovieIndex:
    """The index that a publish of ``docs`` and ``postings`` loads, built
    in memory."""
    return movieindex._loaded(movieindex.serving_tables(docs, postings))


# pandas made unimportable by an import hook, as where it is not installed:
# ``sys.modules["pandas"] = None`` would not do here, because pyarrow's
# compiled import then returns the ``None`` and every ``pa.array`` fails.
_PUBLISH_NO_PANDAS = """
import json, sys
class NoPandas:
    def find_spec(self, name, path=None, target=None):
        if name.partition(".")[0] == "pandas":
            raise ModuleNotFoundError(f"No module named {name!r}", name=name)
sys.meta_path.insert(0, NoPandas())
import pyarrow.parquet as pq
from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.operators import (
    movieindex)
src, index_dir, calls = sys.argv[1], sys.argv[2], json.load(sys.stdin)
movieindex.publish(pq.read_table(f"{src}/docs.parquet"), pq.read_table(f"{src}/postings.parquet"), index_dir)
index = movieindex.load(index_dir)
assert "pandas" not in sys.modules
print(json.dumps([getattr(movieindex, flow)(index, *args) for flow, args in calls]))
"""


def test_publish_needs_no_pandas(tmp_path):
    """A process where ``pandas`` cannot be imported publishes and loads an
    index (a repeated, a null and an unknown movieId included) that
    answers as the same tables' in-memory serving tables do."""
    docs, post = _python_tables([(3, "Star Wars", ["Sci-Fi"]), (1, "Star Trek", ["Sci-Fi"]),
                                 (3, "Star Wars copy", None), (None, "Nobody", ["Drama"]),
                                 (2, "Toy Story", ["Children's", "Comedy"])])
    post = pa.concat_tables([post, pa.table({"field": ["title", "title"], "term": ["star", "ghost"],
                                             "movieId": pa.array([None, 99], pa.int32())})])
    pq.write_table(docs, tmp_path / "docs.parquet")
    pq.write_table(post, tmp_path / "postings.parquet")
    calls = [("search_page", ["star", 0, 10]), ("search_page", ["stor", 0, 10]),
             ("lookup_title", ["toy story"]), ("recommend_by_genre_overlap", [1, ["Sci-Fi"], 5]),
             ("movie_by_id", [3]), ("movie_by_id", [99])]
    proc = subprocess.run(
        [sys.executable, "-c", _PUBLISH_NO_PANDAS, str(tmp_path), str(tmp_path / "index")],
        input=json.dumps(calls), capture_output=True, text=True, timeout=300,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    assert proc.returncode == 0, proc.stderr[-3000:]
    index = _loaded(docs, post)
    want = json.loads(json.dumps([getattr(movieindex, flow)(index, *args) for flow, args in calls]))
    assert json.loads(proc.stdout) == want
    assert index.ids.tolist() == [1, 2, 3] and want[0][1] == 2, want


def test_rows_without_movie_id_hold_no_document():
    """A docs row and postings without a movieId are dropped at load:
    ``ids`` stays sorted and the other documents answer as before."""
    index = _python_index([(2, "Beta", ["Drama"]), (None, "Beta", ["Drama"]), (1, "Alpha", None)])
    assert index.ids.tolist() == [1, 2]
    assert [d["movieId"] for d in movieindex.search_page(index, "beta", 0, 10)[0]] == [2]
    assert movieindex.lookup_title(index, "beta")[0] == "unique"
    assert index.genres[movieindex._code(index.genre_names, "Drama")].tolist() == [1]


_GENRES = ["Action", "Comedy", "Drama", "Sci-Fi", "Children's"]
_TITLE_WORDS = st.sampled_from(["star", "wars", "the", "a", "Star!", "(1977)", "...", "", "é"])
_TITLE = st.one_of(st.none(), st.lists(_TITLE_WORDS, max_size=4).map(" ".join))
_DOCS = st.lists(
    st.tuples(st.integers(1, 60), _TITLE,
              st.one_of(st.none(), st.lists(st.sampled_from(_GENRES), max_size=4))),
    max_size=25, unique_by=itemgetter(0))


@settings(max_examples=200, deadline=None, database=None,
          suppress_health_check=list(HealthCheck))
@given(docs=_DOCS, genres=st.lists(st.sampled_from(_GENRES + ["Western", "drama"]), max_size=5),
       movie_id=st.integers(0, 60), k=st.integers(0, 30))
def test_genre_overlap_kernel_matches_set_scan(docs, genres, movie_id, k):
    """The genre-postings bincount ranks as the per-document set
    intersection did: duplicate query or document genres count once,
    unknown genres count nothing and the source movie is excluded."""
    index = _python_index(docs)
    want = set(genres)
    scan = sorted(
        ((mid, len(want & set(g or ()))) for mid, _t, g in docs if mid != movie_id),
        key=lambda p: (-p[1], p[0]))
    got = movieindex.recommend_by_genre_overlap(index, movie_id, genres, k)
    assert [(d["movieId"], d["score"]) for d in got] == [p for p in scan if p[1]][:k]


@settings(max_examples=200, deadline=None, database=None,
          suppress_health_check=list(HealthCheck))
@given(docs=_DOCS, words=st.lists(_TITLE_WORDS, max_size=4),
       extra=st.sampled_from(["", " ", "!!", "--", "star star", "wars wars wars"]),
       size=st.integers(1, 6))
def test_title_probe_matches_substring_scan(docs, words, extra, size):
    """The postings-first title probe finds the documents the full
    substring scan over ``title_norm`` finds, in movieId order, for
    empty, punctuation-only and repeated-token phrases and null titles."""
    index = _python_index(docs)
    for phrase in (" ".join(words), extra, f"{extra} {' '.join(words)}"):
        needle = f" {_norm(phrase)} "
        scan = sorted(mid for mid, title, _g in docs
                      if title is not None and needle in f" {_norm(title)} ")[:size]
        status, hits = movieindex.lookup_title(index, phrase, size)
        assert [d["movieId"] for d in hits] == scan, phrase
        assert status == ("none", "unique", "ambiguous")[min(len(scan), 2)], phrase


@settings(max_examples=300, deadline=None, database=None,
          suppress_health_check=list(HealthCheck))
@given(scores=st.lists(st.sampled_from([0, 0, 1, 2, 2, 3.0, 4.0]), max_size=40),
       k=st.integers(0, 45))
def test_top_k_matches_full_sort(scores, k):
    """``_top`` is the full sort's first ``k`` nonzero positions (score
    desc, position asc), ties at the k-th score included, for every k up
    to past the hit count."""
    s = np.asarray(scores, np.float64)
    ranked = sorted(np.flatnonzero(s).tolist(), key=lambda p: (-s[p], p))
    top, total = movieindex._top(s, k)
    assert top.tolist() == ranked[:k] and total == len(ranked)


@settings(max_examples=100, deadline=None, database=None,
          suppress_health_check=list(HealthCheck))
@given(docs=_DOCS, q=st.lists(st.sampled_from(["star", "stars", "war", "drama", "the", "a", "é"]),
                              max_size=5),
       page=st.integers(0, 8), size=st.integers(1, 4))
def test_search_page_matches_scan(docs, q, page, size):
    """A ``/search`` page is the full ranking of the ``_lev_le`` scan over
    the terms dictionary, sliced, pages past ``total`` included."""
    index = _python_index(docs)
    query = " ".join(q)
    scores: Counter = Counter()
    for qt in query.split():
        d = search.auto_fuzziness(qt)
        for field, boost in (("title", 3.0), ("genres_text", 1.0)):
            hit = set().union(*(index.fields[field][c].tolist() for c in range(len(index.words))
                                if movierec._lev_le(index.words[c], qt, d)))
            for p in hit:
                scores[index.ids[p]] += boost
    ranked = sorted(scores, key=lambda mid: (-scores[mid], mid))
    rows, total = movieindex.search_page(index, query, page * size, size)
    assert total == len(ranked)
    assert [r["movieId"] for r in rows] == ranked[page * size:(page + 1) * size]


class _NoScanColumn:
    """A document column view that answers reads by position but raises
    on iteration."""

    def __init__(self, column):
        self.column = column

    def __getitem__(self, p):
        return self.column[p]

    def __iter__(self):
        raise AssertionError("an endpoint iterated every document")


class _CountedColumn(_NoScanColumn):
    """A :class:`_NoScanColumn` that counts its reads by position."""

    reads = 0

    def __getitem__(self, p):
        type(self).reads += 1
        return super().__getitem__(p)


def test_stream_never_scans_every_document(stream_oracle, index, catalog, monkeypatch):
    """No endpoint touches every document: the benchmark's stream and the
    genre-less keyword path, served from an index whose document columns
    raise on iteration, answer exactly as the raw frame does, and no
    request reads even a tenth of the ``__title_norm`` strings by
    position."""
    guarded = dataclasses.replace(index, columns={
        name: (_CountedColumn if name == "__title_norm" else _NoScanColumn)(col)
        for name, col in index.columns.items()})
    for col in guarded.columns.values():
        with pytest.raises(AssertionError):
            list(col)
    requests = [(req[0], _arg(req), want) for req, want in stream_oracle] + [
        ("recommend", {"title": t}, _call(index, "recommend", {"title": t}))
        for t in _genreless_unique(index, catalog)[:2]]
    for ep, arg, want in requests:
        monkeypatch.setattr(_CountedColumn, "reads", 0)
        assert _call(guarded, ep, arg) == want, (ep, arg)
        assert _CountedColumn.reads < N_MOVIES // 10, (ep, arg, _CountedColumn.reads)


def test_query_term_cap_on_both_backends(spark, tmp_path, monkeypatch):
    """``/search`` answers up to 1,024 distinct query terms and refuses
    1,025 through its 500 branch, with equal replies from the index and
    the raw frame; a term repeated in one request is expanded once."""
    raw = spark.createDataFrame(
        [(1, "Alpha Beta (1990)", "01-Jan-1990", ["Drama"]), (2, "Gamma", None, ["Comedy"])],
        "movieId int, title string, release_date string, genres array<string>")
    movierec.write_movie_index(movierec.build_movie_index_tables(raw), str(tmp_path))
    index = movierec.load_movie_index(spark, str(tmp_path))
    fillers = [f"zq{i:04d}" for i in range(serving.MAX_QUERY_TERMS)]
    at_cap = " ".join(["alphx", "drama"] + fillers[:serving.MAX_QUERY_TERMS - 2] + ["drama"])
    over = " ".join(["alphx", "drama"] + fillers[:serving.MAX_QUERY_TERMS - 1])
    got = _call(index, "search", {"q": at_cap})
    assert got == _call(raw, "search", {"q": at_cap})
    assert got[0] == 200 and [m["movieId"] for m in got[1]["movies"]] == [1]
    got = _call(index, "search", {"q": over})
    assert got == _call(raw, "search", {"q": over})
    assert got[0] == 500 and "too_many_clauses" in got[1]["error"]

    expanded = []
    kernel = movieindex._expand
    monkeypatch.setattr(movieindex, "_expand", lambda v, qt, d: expanded.append(qt) or kernel(v, qt, d))
    assert _call(index, "search", {"q": "drama Drama alpha drama"})[1]["total"] == 1
    assert sorted(expanded) == ["alpha", "drama"]


def test_load_between_the_renames_of_a_publish_is_refused(tmp_path, monkeypatch):
    """A load that finds the renamed files of a new publish beside those
    of the old one refuses the mix instead of reading one publish's
    positions against the other's documents; once the publish ends, the
    load sees the new index whole."""
    out = str(tmp_path)

    def tables(docs):
        rows = [{"movieId": m, "title": t, "genres": g, "__title_norm": f" {_norm(t)} "} for m, t, g in docs]
        post = pa.table({"field": ["title"] * len(docs), "term": [_norm(t) for _m, t, _g in docs],
                         "movieId": pa.array([m for m, _t, _g in docs], pa.int32())})
        return pa.Table.from_pylist(rows, _DOCS_SCHEMA), post

    movieindex.publish(*tables([(1, "Alpha", ["Drama"]), (2, "Beta", ["Drama"])]), out)
    replace, errors = os.replace, []

    def load_after_each_rename(src, dst):
        replace(src, dst)
        try:
            movieindex.load(out)
        except RuntimeError as e:
            errors.append(str(e))

    monkeypatch.setattr(os, "replace", load_after_each_rename)
    movieindex.publish(*tables([(0, "Gamma", ["Drama"]), (1, "Alpha", ["Drama"]), (2, "Beta", ["Drama"])]), out)
    monkeypatch.undo()
    assert len(errors) == len(movieindex.FILES) - 1 and "two publishes" in errors[0]
    index = movieindex.load(out)
    assert [d["title"] for d in movieindex.search_page(index, "beta", 0, 10)[0]] == ["Beta"]
