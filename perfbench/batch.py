"""``batch``: the offline jobs, run as one cold job per process, the way a
scheduler submits them.

One pass runs, in order:

1. recsys: ``pipelines.preprocess`` -> ``write_parquet`` ->
   ``pipelines.train_recommendations`` (ALS rank 10, 10 iterations, seed
   42) -> write the top-10 recs;
2. curation: ``dedup.exact_dedup_groups`` -> ``dedup.minhash_dedup_pairs``
   (``plans.dedup``'s hash, band and bucket-cap constants) ->
   ``dedup.dedup_clusters`` -> ``similarity.cosine_topk_lsh_batch``;
3. catalog: a fixed subset of the query catalog to the noop sink.

The serving-index publish runs in ``serve``, which builds a larger index.

Passes repeat while the window lasts; the first pass is cold.
"""

from __future__ import annotations

import os
import statistics
import time
from importlib import import_module

import pyarrow.parquet as pq

import checks
import gen
from common import dir_bytes, timed_setups
from spans import SparkCounter, Tracer, instrument

N_MOVIES, N_USERS, RATINGS_PER_USER = 1682, 943, (20, 40)
N_DOCS, N_QUERIES, ANN_K = 1500, 20, 5
N_ORDERS = 4000
JACCARD = 0.5
NEAR_RECALL_FLOOR = 0.8
ANN_RECALL_FLOOR = 0.3  # LSH recall@5 over 20 queries ranged 0.41-0.78 across seeds
# one query per family: relational join + top-k, window top-k, BM25 search,
# sessionization, and the click-attribution interval join of
# ``streaming.windows`` (run as a batch query; a file-stream drain costs
# more than the rest of the catalog subset together)
CATALOG = ("q02_top_customers", "q14_window_topk", "q26_search_bm25", "q46_sessionize",
           "q87_click_attribution")


def _mods(pkg):
    m = lambda name: import_module(f"{pkg.__name__}.{name}")  # noqa: E731
    catalog = m("plans.catalog")
    catalog.load_all()
    return {
        "session": m("session"), "pipelines": m("pipelines"), "readers": m("sources.readers"),
        "dedup": m("operators.dedup"),
        "similarity": m("operators.similarity"), "plans_dedup": m("plans.dedup"),
        "catalog": catalog, "windows": m("streaming.windows"),
        "relational": m("operators.relational"),
    }


def instrument_layers(tracer: Tracer, pkg, M) -> None:
    from serve import instrument_layers as serve_layers

    serve_layers(tracer, pkg)
    instrument(tracer, M["pipelines"], ["train_als", "als_recommendations"], "recommend")
    instrument(tracer, M["dedup"], ["exact_dedup_groups", "doc_shingles", "minhash_bands",
                                    "lsh_candidate_pairs", "jaccard_verify", "minhash_dedup_pairs",
                                    "dedup_clusters"], "dedup")
    instrument(tracer, M["similarity"], ["cosine_topk_lsh_batch"], "similarity")
    instrument(tracer, M["windows"], ["attribution_join"], "streaming")
    instrument(tracer, M["relational"], ["join_broadcast_dim", "topk_global", "topk_per_group",
                                         "semi_join", "range_join_bucketed"], "relational")
    for name in ("core", "search", "timeseries"):
        instrument(tracer, import_module(f"{pkg.__name__}.plans.{name}"), ["load_table"], "sources")


class _Pass:
    """One pass over the four jobs; keeps what the checks need."""

    def __init__(self, spark, M, tracer, counter, paths, corpus):
        self.spark, self.M, self.tracer, self.counter = spark, M, tracer, counter
        self.p, self.corpus = paths, corpus
        self.stage_s: dict[str, float] = {}
        self.spark_counts: dict[str, tuple[int, int, int]] = {}
        self.out: dict = {}

    def stage(self, name: str, layer: str, fn):
        gid = self.counter.group(name) if self.counter else None
        t0 = time.perf_counter()
        with self.tracer.span(name, layer):
            res = fn()
        self.stage_s[name] = self.stage_s.get(name, 0.0) + time.perf_counter() - t0
        if gid is not None:
            self.spark_counts[name] = self.counter.counts(gid)
        return res

    def force(self, df):
        df = df.localCheckpoint(eager=True)
        return df, df.count()

    def run(self) -> None:
        spark, M, p = self.spark, self.M, self.p
        pl, rd, D = M["pipelines"], M["readers"], M["dedup"]
        # 1. recsys
        processed = self.stage("pipelines.preprocess", "pipelines",
                               lambda: pl.preprocess(spark, p["ratings"], p["items"]))
        self.stage("sources.write_processed", "sources", lambda: rd.write_parquet(processed, p["processed"]))
        recs = self.stage("pipelines.train_recommendations", "pipelines",
                          lambda: pl.train_recommendations(spark, spark.read.parquet(p["processed"])))
        self.stage("sources.write_recs", "sources", lambda: rd.write_parquet(recs, p["recs"]))
        # 2. curation
        docs = spark.read.parquet(p["corpus"])
        self.out["exact"] = self.stage(
            "dedup.exact_dedup_groups", "dedup",
            lambda: D.exact_dedup_groups(docs, "doc_id", "text").filter("n_copies > 1")
            .select("survivor_id", "n_copies").collect())
        cfg = M["plans_dedup"]
        if self.tracer.enabled:
            sh, _ = self.stage("dedup.doc_shingles", "dedup",
                               lambda: self.force(D.doc_shingles(docs, "doc_id", "text", 3)))
            bands, _ = self.stage("dedup.minhash_bands", "dedup", lambda: self.force(
                D.minhash_bands(sh, "doc_id", num_hashes=cfg.NUM_HASHES, bands=cfg.BANDS)))
            cand, self.out["candidates"] = self.stage("dedup.lsh_candidate_pairs", "dedup", lambda: self.force(
                D.lsh_candidate_pairs(bands, "doc_id", max_bucket=cfg.MAX_BUCKET)))
            pairs, n_pairs = self.stage("dedup.jaccard_verify", "dedup", lambda: self.force(
                D.jaccard_verify(cand, sh, "doc_id", threshold=JACCARD)))
        else:
            pairs, n_pairs = self.stage("dedup.minhash_dedup_pairs", "dedup", lambda: self.force(
                D.minhash_dedup_pairs(docs, "doc_id", "text", n=3, num_hashes=cfg.NUM_HASHES,
                                      bands=cfg.BANDS, threshold=JACCARD, max_bucket=cfg.MAX_BUCKET)))
        self.out["pairs"], self.out["n_pairs"] = pairs, n_pairs
        self.out["n_clusters"] = self.stage("dedup.dedup_clusters", "dedup",
                                            lambda: D.dedup_clusters(pairs).count())
        emb = spark.read.parquet(p["embeddings"])
        self.out["ann"] = self.stage(
            "similarity.cosine_topk_lsh_batch", "similarity",
            lambda: [(r.qid, r.doc_id, r.score) for r in M["similarity"].cosine_topk_lsh_batch(
                emb, "doc_id", "embedding", self.corpus["query_ids"], k=ANN_K).collect()])
        # 3. catalog
        Q = M["catalog"].QUERIES
        for q in CATALOG:
            df = self.stage(f"plans.{q}.build", "plans", lambda q=q: Q[q](spark, p["star"]))
            self.stage(f"plans.{q}.run", "plans",
                       lambda df=df: df.write.format("noop").mode("overwrite").save())


def run(ctx) -> dict:
    M = _mods(ctx.pkg)
    w = ctx.work
    p = {
        "ratings": os.path.join(w, "ml", "u.data"), "items": os.path.join(w, "ml", "u.item"),
        "processed": os.path.join(w, "out", "processed.parquet"),
        "recs": os.path.join(w, "out", "recs.parquet"),
        "corpus": os.path.join(w, "cur", "corpus.parquet"),
        "embeddings": os.path.join(w, "cur", "embeddings.parquet"), "star": os.path.join(w, "star"),
    }
    t_gen = time.perf_counter()
    truth = gen.write_movielens(os.path.join(w, "ml"), ctx.seed, N_MOVIES, N_USERS, RATINGS_PER_USER)
    corpus = gen.write_corpus(os.path.join(w, "cur"), ctx.seed, N_DOCS, n_queries=N_QUERIES)
    gen.write_star(p["star"], ctx.seed, N_ORDERS)
    star_rows = {t: pq.ParquetFile(os.path.join(p["star"], f"{t}.parquet")).metadata.num_rows
                 for t in ("lineitem", "orders", "events", "documents")}
    input_rows = truth["n_ratings"] + N_MOVIES + N_DOCS + sum(star_rows.values())
    ctx.input_bytes = sum(dir_bytes(os.path.join(w, d)) for d in ("ml", "cur", "star"))
    gen_s = time.perf_counter() - t_gen

    tracer = Tracer(enabled=ctx.trace)
    instrument_layers(tracer, ctx.pkg, M)

    t0 = time.perf_counter()
    spark = M["session"].get_spark()
    ctx.cold_start_s = time.perf_counter() - t0

    def setup_once(sp):
        sp.sparkContext.setLogLevel("ERROR")
        return sp.range(1).count()

    spark, _state, setup_times = timed_setups(M["session"].get_spark, setup_once)
    counter = SparkCounter(spark) if ctx.trace else None

    passes: list[_Pass] = []
    t_start = time.perf_counter()
    while not passes or time.perf_counter() - t_start < ctx.seconds:
        ps = _Pass(spark, M, tracer, counter, p, corpus)
        t = time.perf_counter()
        ps.run()
        ps.wall = time.perf_counter() - t
        passes.append(ps)
    wall = time.perf_counter() - t_start
    last = passes[-1]

    # ---- checks (outside the timed window) ----
    t_check = time.perf_counter()
    bad: list[str] = []
    recs = [(r.userId, r.movieId, r.predicted_rating) for r in spark.read.parquet(p["recs"]).collect()]
    bad += checks.recs(recs, truth["users"])
    bad += checks.exact_groups([tuple(r) for r in last.out["exact"]], corpus["exact_pairs"])
    verified = [(r.id_a, r.id_b, r.jaccard) for r in last.out["pairs"].collect()]
    near_bad, near_recall = checks.near_pairs(verified, corpus["near_pairs"], JACCARD, NEAR_RECALL_FLOOR)
    bad += near_bad
    ann_bad, ann_recall = checks.ann(last.out["ann"], corpus["embeddings"], corpus["query_ids"], ANN_K,
                                     ANN_RECALL_FLOOR)
    bad += ann_bad
    bad += _catalog_checks(spark, M, p["star"])
    n_checks = 5 + len(CATALOG)
    phases = {"generate": gen_s, "window": wall, "checks": time.perf_counter() - t_check}

    stage_names = list(last.stage_s)
    e2e = {
        "throughput": input_rows * len(passes) / wall,
        "latency_p50_ms": statistics.median(ps.wall for ps in passes) * 1000.0,
    }
    out = {
        "spark": spark,
        "tracer": tracer,
        "setup_times": setup_times,
        "e2e": e2e,
        "attempted": len(passes) * len(stage_names) + n_checks,
        "mismatches": bad,
        "detail": {
            "passes": [ps.wall for ps in passes],
            "phases_s": phases,
            "stage_s": {k: statistics.median(ps.stage_s[k] for ps in passes) for k in stage_names},
            "input_rows": input_rows,
            "sizes": {"ratings": truth["n_ratings"], "movies": N_MOVIES, "users": N_USERS,
                      "docs": N_DOCS, "ann_queries": N_QUERIES, **star_rows},
            "near_dup_recall": near_recall,
            "ann_recall": ann_recall,
            "verified_pairs": last.out["n_pairs"],
        },
    }
    if ctx.trace:
        cand = last.out.get("candidates", 0)
        written = sum(dir_bytes(p[k]) for k in ("processed", "recs"))
        out["layers"] = {
            "metrics": {
                "dedup.candidate_pairs": float(cand),
                "dedup.verified_pairs": float(last.out["n_pairs"]),
                "dedup.verify_yield": last.out["n_pairs"] / cand if cand else 0.0,
                "spark.jobs": float(sum(c[0] for c in last.spark_counts.values())),
                "spark.tasks": float(sum(c[1] for c in last.spark_counts.values())),
                "spark.failed_tasks": float(sum(c[2] for c in last.spark_counts.values())),
            },
            "detail": {
                **{f"{k}_s": v for k, v in last.stage_s.items()},
                **{f"spark.jobs.{k}": c[0] for k, c in last.spark_counts.items()},
                **{f"spark.tasks.{k}": c[1] for k, c in last.spark_counts.items()},
                **{f"sources.bytes_written.{k}": dir_bytes(p[k]) for k in ("processed", "recs")},
            },
            "since": t_start,
            "bytes_written": written,
        }
    return out


def _catalog_checks(spark, M, star: str) -> list[str]:
    """Each catalog query hash-matches its DuckDB oracle."""
    import duckdb

    con = duckdb.connect()
    for t in ("region", "nation", "customer", "orders", "lineitem", "events", "documents"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{star}/{t}.parquet')")
    Q, O = M["catalog"].QUERIES, M["catalog"].ORACLES
    bad = []
    results = {}
    for q in CATALOG:
        df = Q[q](spark, star)
        results[q] = (df.columns, [tuple(r) for r in df.collect()])
    for q, (cols, rows) in results.items():
        if not rows:
            bad.append(f"{q}: no rows")
            continue
        if q not in O:
            continue
        cur = con.execute(O[q])
        ocols = [d[0] for d in cur.description]
        orows = cur.fetchall()
        if sorted(ocols) != sorted(cols):
            bad.append(f"{q}: columns {sorted(cols)} != oracle {sorted(ocols)}")
        elif checks.result_hash(cols, rows) != checks.result_hash(ocols, orows):
            bad.append(f"{q}: result hash differs from the DuckDB oracle ({len(rows)} vs {len(orows)} rows)")
    return bad
