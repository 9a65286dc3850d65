"""``serve``: online API traffic against a published movie index.

A closed loop of ``CLIENTS`` threads in one process, each waiting for its
reply before sending the next request, drives ``http_api.create_app(index)``
through Flask's test client. ``index`` is what ``movierec.load_movie_index``
returns over a generated u.item catalog of ``N_MOVIES`` movies, published
by the program's own pipeline before set-up.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from importlib import import_module

import checks
import gen
from common import dir_bytes, latency_summary, timed_setups
from spans import SparkCounter, Tracer, instrument

N_MOVIES = 25_000
CLIENTS = 2
BLOCK = 20  # the stream's mix repeats every BLOCK requests
STREAM_LEN = 600  # more than any window at --seconds 60 sends
ENDPOINTS = ("search", "recommend", "movie", "health")
# replies replayed through the inline raw-DataFrame path: the first of
# each kind in the stream, so every seed checks the same shapes
INLINE_SAMPLE = {"search": 1, "recommend": 1, "movie": 1}


def _send(client, req):
    _ep, method, path, args, body, _exp = req
    if method == "GET":
        resp = client.get(path, query_string=args)
    else:
        resp = client.post(path, json=body)
    return resp.status_code, resp.get_json()


def _closed_loop(app, stream, seconds, counter, tracer):
    """``CLIENTS`` threads, each sending its next request only after the
    previous reply, until ``seconds`` have passed and the next request
    starts a new block (at least one block), so every run sends whole
    mixes. Returns the records, sorted by stream position, and errors."""
    lock = threading.Lock()
    next_i = [0]
    records: list[tuple] = []  # (i, endpoint, seconds, status, payload, jobs, tasks, failed)
    errors: list[str] = []
    deadline = time.perf_counter() + seconds

    def client_loop():
        client = app.test_client()
        while True:
            with lock:
                i = next_i[0]
                if (i > 0 and i % BLOCK == 0 and time.perf_counter() >= deadline) or i >= len(stream):
                    return
                next_i[0] += 1
            req = stream[i]
            jobs = tasks = failed = 0
            gid = None
            if counter is not None:
                tracer.set_request(i)
                gid = counter.group(req[0])
            t = time.perf_counter()
            try:
                with tracer.span(f"http_api.{req[0]}", "http_api"):
                    status, payload = _send(client, req)
            except Exception as e:  # noqa: BLE001 — a failed request is a failed op
                status, payload = -1, {"error": repr(e)}
                with lock:
                    errors.append(f"request {i}: {e!r}")
            dt = time.perf_counter() - t
            if gid is not None:
                jobs, tasks, failed = counter.counts(gid)
            with lock:
                records.append((i, req[0], dt, status, payload, jobs, tasks, failed))

    threads = [threading.Thread(target=client_loop) for _ in range(CLIENTS)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    return sorted(records), errors


def _expanded_terms(index, query: str, movierec, search) -> int:
    """Fuzzy expansion fan-out of one query over ``MovieIndex.terms``,
    recomputed with the program's own edit-distance rule."""
    n = 0
    for t in (t for t in query.lower().split() if t):
        d = search.auto_fuzziness(t)
        n += sum(movierec._lev_le(term, t, d) for _f, term in index.terms)
    return n


def instrument_layers(tracer: Tracer, pkg) -> None:
    m = lambda name: import_module(f"{pkg.__name__}.{name}")  # noqa: E731
    movierec = m("operators.movierec")
    instrument(tracer, m("serving"), ["search_endpoint", "recommend_endpoint", "movie_endpoint",
                                      "health_endpoint"], "serving")
    instrument(tracer, movierec, ["search_hits", "lookup_title", "recommend_by_genre_overlap",
                                  "recommend_by_title_keywords", "movie_frame",
                                  "build_movie_index_tables", "write_movie_index",
                                  "load_movie_index"], "movierec")
    instrument(tracer, m("operators.search"), ["phrase_match", "bool_query", "terms_overlap", "term",
                                               "keyword_match_count", "multi_match_score"], "search")
    instrument(tracer, m("pipelines"), ["read_movies", "read_ratings"], "sources")
    instrument(tracer, m("pipelines"), ["join_broadcast_dim", "null_drop", "one_hot_to_names"],
               "relational")
    instrument(tracer, m("pipelines"), ["preprocess", "build_movie_index", "train_recommendations"],
               "pipelines")
    instrument(tracer, m("sources.readers"), ["pit_snapshot", "write_parquet"], "sources")


def run(ctx) -> dict:
    pkg = ctx.pkg
    session = import_module(f"{pkg.__name__}.session")
    pipelines = import_module(f"{pkg.__name__}.pipelines")
    http_api = import_module(f"{pkg.__name__}.http_api")
    serving = import_module(f"{pkg.__name__}.serving")
    movierec = import_module(f"{pkg.__name__}.operators.movierec")
    search = import_module(f"{pkg.__name__}.operators.search")

    t_gen = time.perf_counter()
    ml_dir = os.path.join(ctx.work, "ml")
    index_dir = os.path.join(ctx.work, "index")
    truth = gen.write_movielens(ml_dir, ctx.seed, N_MOVIES)
    stream, props = gen.serve_requests(truth, ctx.seed, BLOCK + STREAM_LEN)
    item_path = os.path.join(ml_dir, "u.item")
    ctx.input_bytes = os.path.getsize(item_path)
    gen_s = time.perf_counter() - t_gen

    tracer = Tracer(enabled=ctx.trace)
    instrument_layers(tracer, pkg)

    t0 = time.perf_counter()
    spark = session.get_spark()
    ctx.cold_start_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")

    # publish the serving index with the program's offline path
    t0 = time.perf_counter()
    idx = movierec.build_movie_index_tables(pipelines.build_movie_index(spark, item_path))
    movierec.write_movie_index(idx, index_dir)
    movierec.load_movie_index(spark, index_dir)
    index_publish_s = time.perf_counter() - t0

    def setup_once(sp):
        sp.sparkContext.setLogLevel("ERROR")
        index = movierec.load_movie_index(sp, index_dir)
        return index, http_api.create_app(index)

    spark, (index, app), setup_times = timed_setups(session.get_spark, setup_once)
    counter = SparkCounter(spark) if ctx.trace else None

    # one untimed block first: the JIT is still compiling the request path
    # after set-up, and latencies fall for about one block
    warm_stream, stream = stream[:BLOCK], stream[BLOCK:]
    t_warm = time.perf_counter()
    warm, errors = _closed_loop(app, warm_stream, 0.0, None, Tracer())
    t_start = time.perf_counter()
    records, err = _closed_loop(app, stream, ctx.seconds, counter, tracer)
    wall = time.perf_counter() - t_start
    errors += err

    # ---- checks (outside the timed window) ----
    t_check = time.perf_counter()
    mismatches = list(errors)
    for reqs, recs in ((warm_stream, warm), (stream, records)):
        for i, _ep, _dt, status, payload, *_ in recs:
            if status >= 0:
                mismatches += checks.serve_response(reqs[i], status, payload, truth["movies"])
    docs = [(r.movieId, r.title, r.genres) for r in index.docs.collect()]
    mismatches += checks.index_docs(docs, truth["movies"])
    raw = pipelines.build_movie_index(spark, item_path)
    want = dict(INLINE_SAMPLE)
    inline_checked = 0
    for i, ep, _dt, status, payload, *_ in records:
        if want.get(ep, 0) > 0 and status >= 0:
            want[ep] -= 1
            _e, _m, path, args, body, _x = stream[i]
            if ep == "search":
                got = serving.search_endpoint(raw, args)
            elif ep == "recommend":
                got = serving.recommend_endpoint(raw, body)
            else:
                got = serving.movie_endpoint(raw, path.rsplit("/", 1)[1])
            got = (got[0], json.loads(json.dumps(got[1])))
            mismatches += checks.same_reply(stream[i], (status, payload), got)
            inline_checked += 1

    phases = {"generate": gen_s, "publish": index_publish_s, "warm": t_start - t_warm,
              "window": wall, "checks": time.perf_counter() - t_check}
    lat = [r[2] for r in records]
    per_ep = {ep: latency_summary([r[2] for r in records if r[1] == ep]) for ep in ENDPOINTS}
    e2e = {
        "throughput": len(records) / wall,
        "latency_p50_ms": per_ep["search"]["p50_ms"],
    }
    out = {
        "spark": spark,
        "tracer": tracer,
        "setup_times": setup_times,
        "e2e": e2e,
        "attempted": len(warm) + len(records) + inline_checked + 1,
        "mismatches": mismatches,
        "detail": {
            "requests": per_ep,
            "all_requests": latency_summary(lat),
            "phases_s": phases,
            "clients": CLIENTS,
            "loop": "closed",
            "n_movies": N_MOVIES,
            "index_terms": len(index.terms),
            "stream": props,
            "inline_checked": inline_checked,
            "latencies_ms": [(r[0], r[1], round(r[2] * 1000.0, 1)) for r in records],
        },
    }
    if ctx.trace:
        out["layers"] = _serve_layers(tracer, records, stream, index, movierec, search, t_start)
        out["layers"]["bytes_written"] = dir_bytes(index_dir)
    return out


def _serve_layers(tracer, records, stream, index, movierec, search, t_start) -> dict:
    m: dict[str, float] = {}
    jobs = {ep: [r[5] for r in records if r[1] == ep] for ep in ENDPOINTS}
    tasks = {ep: [r[6] for r in records if r[1] == ep] for ep in ENDPOINTS}
    for ep in ENDPOINTS:
        m[f"spark.jobs_per_request.{ep}"] = statistics.mean(jobs[ep]) if jobs[ep] else 0.0
        m[f"spark.tasks_per_request.{ep}"] = statistics.mean(tasks[ep]) if tasks[ep] else 0.0
    m["spark.jobs"] = float(sum(r[5] for r in records))
    m["spark.tasks"] = float(sum(r[6] for r in records))
    m["spark.failed_tasks"] = float(sum(r[7] for r in records))
    searches = [stream[r[0]][3]["q"] for r in records if r[1] == "search"]
    m["movierec.expanded_terms"] = (
        statistics.mean(_expanded_terms(index, q, movierec, search) for q in searches)
        if searches else 0.0)
    spans = [s for s in tracer.spans if s.start >= t_start]
    detail = {}
    for name in sorted({s.name for s in spans}):
        vals = [s.self_s * 1000.0 for s in spans if s.name == name]
        detail[f"{name}.self_ms"] = statistics.median(vals)
    return {"metrics": m, "detail": detail, "since": t_start}
