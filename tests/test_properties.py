"""Property tests for engine operators (SURVEY §5.2): invariants that must
hold regardless of data."""

from __future__ import annotations

from pyspark.sql import functions as F

from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.operators import (
    dedup as D,
)
from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.operators import (
    relational as R,
)
from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.operators import (
    search as S,
)
from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.sources.readers import (
    load_table,
)


def test_exact_dedup_doubled_corpus_collapses(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n = docs.count()
    doubled = docs.unionAll(docs.select((F.col("doc_id") + 10_000).alias("doc_id"), "text"))
    groups = D.exact_dedup_groups(doubled, "doc_id", "text")
    assert groups.count() == n
    assert groups.filter(F.col("n_copies") != 2).count() == 0
    # survivors are the original ids (min of {id, id+10000})
    assert groups.filter(F.col("survivor_id") >= 10_000).count() == 0


def test_jaccard_self_pair_is_one(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(20)
    sh = D.doc_shingles(docs, "doc_id", "text", n=3)
    pairs = sh.select(F.col("doc_id").alias("id_a"), F.col("doc_id").alias("id_b")).limit(20)
    j = D.jaccard_verify(pairs, sh, "doc_id")
    vals = [r.jaccard for r in j.collect()]
    assert vals and all(v == 1.0 for v in vals)


def test_fuzzy_distance_zero_equals_exact(spark, sf_dir):
    docs = S.with_tokens(load_table(spark, sf_dir, "documents"), "text")
    exact = docs.filter(F.array_contains("toks", "spark")).count()
    fz = docs.filter(S.fuzzy_match(F.col("toks"), "spark", max_dist=0)).count()
    assert exact == fz


def test_pagination_partitions_topn(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    order = [F.desc("o_totalprice"), F.asc("o_orderkey")]
    pages = [
        {r.o_orderkey for r in R.paginate(orders, order, page=p, size=10).collect()}
        for p in (1, 2, 3)
    ]
    top30 = {r.o_orderkey for r in R.topk_global(orders, order, 30).collect()}
    assert set.union(*pages) == top30
    assert sum(len(p) for p in pages) == 30  # disjoint cover


def test_unpivot_roundtrip_identity(spark, sf_dir):
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_size").cast("double").alias("p_size"),
        F.col("p_retailprice").cast("double").alias("p_retailprice"),
    )
    melted = R.unpivot(part, ["p_partkey"], ["p_size", "p_retailprice"], "attr", "val")
    refat = (
        melted.groupBy("p_partkey")
        .pivot("attr", ["p_size", "p_retailprice"])
        .agg(F.first("val"))
    )
    assert refat.exceptAll(part).count() == 0 and part.exceptAll(refat).count() == 0


def test_topk_per_group_bounds(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    top = R.topk_per_group(orders, ["o_custkey"], [F.desc("o_totalprice"), F.asc("o_orderkey")], 3)
    per = top.groupBy("o_custkey").count()
    assert per.filter(F.col("count") > 3).count() == 0


def test_bool_query_minimum_should_match_monotonic(spark, sf_dir):
    docs = S.with_tokens(load_table(spark, sf_dir, "documents"), "text")
    should = [F.array_contains("toks", w) for w in ("join", "merge", "window")]
    counts = [
        docs.filter(S.bool_query(should=should, minimum_should_match=m)).count()
        for m in (1, 2, 3)
    ]
    assert counts[0] >= counts[1] >= counts[2]


def test_approx_count_distinct_within_rsd(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    approx = {
        r.l_returnflag: r.approx_parts
        for r in li.groupBy("l_returnflag")
        .agg(F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx_parts"))
        .collect()
    }
    exact = {
        r.l_returnflag: r.n
        for r in li.groupBy("l_returnflag")
        .agg(F.countDistinct("l_partkey").alias("n"))
        .collect()
    }
    for k, n in exact.items():
        assert abs(approx[k] - n) <= max(3, 0.1 * n), (k, approx[k], n)


def test_bm25_indexed_equals_inline(spark, sf_dir):
    """The prebuilt-index BM25 path must score bitwise-identically to the
    inline-stats path."""
    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.operators.textindex import (
        bm25_with_index,
        build_docfreq_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    terms = ["spark", "join", "window"]
    inline = {
        r.doc_id: r.score
        for r in S.bm25_score(docs, "text", terms).select("doc_id", "score").collect()
    }
    docfreq, totals = build_docfreq_index(docs, "text")
    indexed = {
        r.doc_id: r.score
        for r in bm25_with_index(docs, docfreq, totals, "text", terms)
        .select("doc_id", "score")
        .collect()
    }
    assert inline == indexed


def test_ann_multi_table_improves_recall(spark, sf_dir):
    """Deterministic recall measurement: multi-table LSH must dominate
    single-table, and both must return subsets of the corpus ranked by
    true cosine."""
    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.operators import (
        similarity as SIM,
    )

    emb = load_table(spark, sf_dir, "embeddings")

    def recall(tables: int) -> float:
        total = 0.0
        for t in range(5):
            exact = {r.vec_id for r in SIM.cosine_topk(emb, "vec_id", "embedding", t, k=10).collect()}
            ann = {
                r.vec_id
                for r in SIM.cosine_topk_lsh(
                    emb, "vec_id", "embedding", t, k=10, planes=4, tables=tables
                ).collect()
            }
            total += len(exact & ann) / 10
        return total / 5

    r1, r4 = recall(1), recall(4)
    assert r4 >= r1
    assert r4 > 0


def test_ivf_recall_floor_and_monotonicity(spark, sf_dir):
    """IVF's partial-probe recall contract (the LSH path has had this
    since round 1; q82/q83's cell-audit oracles don't cover it): at
    nlist=8, recall@10 vs brute force must clear a floor at the default
    nprobe=2, and more probes can only help. Deterministic — centroids
    and data are fixed, measured 0.913/0.925/0.938 for nprobe 1/2/3."""
    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.operators import (
        similarity as SIM,
    )

    # cache for the 48 collects below, but ALWAYS unpersist: a leaked
    # cache entry is substituted by CacheManager into every later
    # plan-matching subtree in the shared session, silently changing
    # other tests' physical plans (test_plan_budget counted the cached
    # build plan's spread Exchange as a live shuffle regression).
    emb = load_table(spark, sf_dir, "embeddings").cache()
    try:

        def recall(nprobe: int) -> float:
            total = 0.0
            for t in range(8):
                exact = {r.vec_id for r in SIM.cosine_topk(emb, "vec_id", "embedding", t, k=10).collect()}
                ann = {
                    r.vec_id
                    for r in SIM.cosine_topk_ivf(
                        emb, "vec_id", "embedding", t, k=10, nlist=8, nprobe=nprobe
                    ).collect()
                }
                total += len(exact & ann) / 10
            return total / 8

        r1, r2, r3 = recall(1), recall(2), recall(3)
        assert r2 >= 0.8, f"IVF recall@10 floor broken: {r2}"
        assert r1 <= r2 <= r3  # probing more cells never loses candidates
    finally:
        emb.unpersist()


def test_ivf_full_probe_equals_brute_force(spark, sf_dir):
    """nprobe == nlist scans every cell, so the IVF path must return
    exactly the brute-force top-k (same ids, same scores)."""
    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.operators import (
        similarity as SIM,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    exact = [
        (r.vec_id, r.score)
        for r in SIM.cosine_topk(emb, "vec_id", "embedding", 3, k=10).collect()
    ]
    full_probe = [
        (r.vec_id, r.score)
        for r in SIM.cosine_topk_ivf(
            emb, "vec_id", "embedding", 3, k=10, nlist=8, nprobe=8
        ).collect()
    ]
    assert full_probe == exact


def test_ivf_cells_partition_corpus(spark, sf_dir):
    """Every vector lands in exactly one cell 1..nlist."""
    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.operators import (
        similarity as SIM,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    idx = SIM.ivf_index(emb, "vec_id", "embedding", nlist=8)
    assert idx.count() == emb.count()
    cells = [r.cell for r in idx.select(F.col("__cell").alias("cell")).distinct().collect()]
    assert all(1 <= c <= 8 for c in cells)


def test_ann_batch_matches_single_query_path(spark, sf_dir):
    """The batched bucket-join ANN must return, per query id, exactly the
    single-query broadcast path's top-k (same candidates, same scores)."""
    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.operators import (
        similarity as SIM,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    batch = SIM.cosine_topk_lsh_batch(
        emb, "vec_id", "embedding", target_ids=[0, 7], k=3, planes=4, tables=2
    ).collect()
    for qid in (0, 7):
        single = [
            (r.vec_id, r.score)
            for r in SIM.cosine_topk_lsh(
                emb, "vec_id", "embedding", qid, k=3, planes=4, tables=2
            ).collect()
        ]
        got = [(r.vec_id, r.score) for r in batch if r.qid == qid]
        assert got == single and len(got) == 3


def test_multimodal_resize_and_frames_plumbing(spark, sf_dir):
    """Frame sampling is 1→N with frame_idx striding."""
    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.operators import (
        multimodal as MM,
    )

    docs = load_table(spark, sf_dir, "documents").limit(50)
    b = MM.to_binary_docs(docs, "doc_id", "text")
    fr = MM.sample_frames(b, stride=24)
    per_doc = {r.doc_id: r.n for r in fr.groupBy("doc_id").agg(F.count("*").alias("n")).collect()}
    assert len(per_doc) == 50 and all(n >= 1 for n in per_doc.values())
    idxs = [r.frame_idx for r in fr.filter(F.col("doc_id") == min(per_doc)).collect()]
    assert idxs == sorted(idxs) and all(i % 24 == 0 for i in idxs)


def test_keyset_pagination_equals_offset_pagination(spark, sf_dir):
    """Keyset page k (cursor = last row of page k-1, as a serving layer
    would pass it) must equal offset page k exactly, page by page."""
    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.operators import (
        search as S,
    )
    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.operators.relational import (
        keyset_page,
    )

    docs = load_table(spark, sf_dir, "documents")
    scored = S.bm25_score(docs, "text", ["spark", "join", "window"]).select(
        "doc_id", "score"
    ).cache()
    ranked = scored.orderBy(F.desc("score"), F.asc("doc_id"))
    after = None
    for page in range(3):
        via_offset = ranked.offset(page * 10).limit(10).collect()
        via_keyset = keyset_page(scored, "score", "doc_id", 10, after=after).collect()
        assert [(r.doc_id, r.score) for r in via_keyset] == [
            (r.doc_id, r.score) for r in via_offset
        ]
        assert via_keyset, f"page {page} unexpectedly empty"
        last = via_keyset[-1]
        after = (last.score, last.doc_id)
    scored.unpersist()


def test_scd2_versions_tile_the_timeline(spark, sf_dir):
    """Per key: versions are dense (1..n), intervals are contiguous
    (valid_to == next valid_from), and the last version is open-ended at
    the SCD2 high-date."""
    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.operators.relational import (
        END_OF_TIME_S,
        scd2_history,
    )

    ev = load_table(spark, sf_dir, "events")
    hist = scd2_history(ev, "user_id", "ts", "event_type", "event_id")
    rows = sorted(
        ((r.user_id, r.version, r.valid_from_s, r.valid_to_s, r.event_type)
         for r in hist.collect())
    )
    assert rows
    by_user: dict = {}
    for u, v, f, t, a in rows:
        by_user.setdefault(u, []).append((v, f, t, a))
    for u, versions in by_user.items():
        assert [v for v, *_ in versions] == list(range(1, len(versions) + 1))
        for (v1, f1, t1, a1), (v2, f2, t2, a2) in zip(versions, versions[1:]):
            assert t1 == f2, (u, v1)          # contiguous tiling
            assert a1 != a2, (u, v1)          # consecutive dup collapsed
        assert versions[-1][2] == END_OF_TIME_S


def test_chunking_covers_all_tokens_with_overlap(spark, sf_dir):
    """Every chunk holds <= 64 tokens; per doc, chunk starts step by 48
    so consecutive chunks overlap by 16 and the union of chunks covers
    every token (last start + chunk length reaches n_tokens)."""
    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.functions.text import (
        tokens as _tokens,
    )

    import __spark_entry__ as entrymod

    q = entrymod.queries()["q104_chunking"]
    chunks = q(spark, sf_dir).collect()
    assert chunks and all(1 <= r.n_chunk_tokens <= 64 for r in chunks)
    n_tok = {
        r.doc_id: r.n
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", F.size(_tokens("text")).alias("n"))
        .collect()
    }
    per_doc: dict = {}
    for r in chunks:
        per_doc.setdefault(r.doc_id, []).append((r.chunk_idx, r.n_chunk_tokens))
    for doc_id, cs in per_doc.items():
        cs.sort()
        assert [i for i, _ in cs] == list(range(len(cs)))
        last_start = 1 + 48 * (len(cs) - 1)
        covered = last_start - 1 + cs[-1][1]
        assert covered == n_tok[doc_id], (doc_id, covered, n_tok[doc_id])


def test_kll_sketch_rank_error_bound(spark, sf_dir):
    """The KLL estimates must land within a generous rank-error window of
    the exact quantiles (default sketch k -> ~2% normalized rank error;
    we assert ±5% to keep the test stable across sketch seeds). q121 now
    carries this inequality as its hash-checked sketch_rank_ok flag; this
    test keeps the INDEPENDENT measurement of the raw estimates and
    asserts the query's flag agrees."""
    import __spark_entry__ as entrymod
    from pyspark.sql import functions as F
    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.sources.readers import load_table

    flags = entrymod.queries()["q121_kll_quantile_sketch"](spark, sf_dir).collect()
    assert flags and all(r.sketch_rank_ok for r in flags)

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", F.col("o_totalprice").cast("double").alias("v")
    )
    est = {
        r.o_orderpriority: r
        for r in orders.groupBy("o_orderpriority")
        .agg(
            F.kll_sketch_agg_double("v").alias("sk"),
        )
        .select(
            "o_orderpriority",
            F.kll_sketch_get_quantile_double(F.col("sk"), F.lit(0.5)).alias("p50"),
            F.kll_sketch_get_quantile_double(F.col("sk"), F.lit(0.9)).alias("p90"),
            F.kll_sketch_get_quantile_double(F.col("sk"), F.lit(0.99)).alias("p99"),
        )
        .collect()
    }
    for p in (0.5, 0.9, 0.99):
        lo_q, hi_q = max(p - 0.05, 0.0), min(p + 0.05, 1.0)
        bounds = {
            r.o_orderpriority: (r.lo, r.hi)
            for r in orders.groupBy("o_orderpriority")
            .agg(
                F.percentile("v", lo_q).alias("lo"),
                F.percentile("v", hi_q).alias("hi"),
            )
            .collect()
        }
        field = {0.5: "p50", 0.9: "p90", 0.99: "p99"}[p]
        for prio, row in est.items():
            lo, hi = bounds[prio]
            v = getattr(row, field)
            assert lo <= v <= hi, f"{field}[{prio}]={v} outside exact [{lo}, {hi}]"


def test_theta_sketch_error_bound(spark, sf_dir):
    """q125's theta estimates must sit within 5% of the exact set sizes
    at ANY scale (below 2^12 distinct the sketch is exact — the oracle
    relies on that at sf0.01; this bound is the contract beyond it)."""
    import __spark_entry__ as entrymod
    from pyspark.sql import functions as F
    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.sources.readers import load_table

    est = {
        r.set_name: r.est
        for r in entrymod.queries()["q125_theta_set_ops"](spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    view = {r.user_id for r in ev.filter(F.col("event_type") == "view").select("user_id").distinct().collect()}
    click = {r.user_id for r in ev.filter(F.col("event_type") == "click").select("user_id").distinct().collect()}
    exact = {
        "view_users": len(view),
        "click_users": len(click),
        "view_or_click": len(view | click),
        "view_and_click": len(view & click),
        "view_not_click": len(view - click),
    }
    for k, want in exact.items():
        got = est[k]
        assert abs(got - want) <= max(0.05 * want, 1), f"{k}: est {got} vs exact {want}"


def test_ann_lsh_recall_floor_on_clustered_corpus(spark):
    """The random-embedding corpus gives LSH an honest but weak recall
    signal (~theory, 0.13 @ 1 table). On the workload LSH is actually
    FOR — a corpus with planted near-duplicate clusters (center +
    0.05·noise, cosine ≈ 0.999 ≫ background ≈ 0.3) — multi-table LSH
    must recover ≥ 0.9 of the true top-10. Fixed seed → deterministic
    (measured 1.0 at planes=4, tables=4)."""
    import numpy as np

    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.operators import (
        similarity as SIM,
    )

    rng = np.random.RandomState(42)
    dim, n_bg, n_clusters, members = 16, 200, 8, 10
    rows = []
    for i in range(n_bg):
        v = rng.normal(size=dim)
        rows.append((100_000 + i, (v / np.linalg.norm(v)).astype("float32").tolist()))
    for c in range(n_clusters):
        center = rng.normal(size=dim)
        center /= np.linalg.norm(center)
        rows.append((c * 1000, center.astype("float32").tolist()))
        for j in range(members):
            m = center + 0.05 * rng.normal(size=dim)
            m /= np.linalg.norm(m)
            rows.append((c * 1000 + j + 1, m.astype("float32").tolist()))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>").cache()

    def recall(tables: int) -> float:
        total = 0.0
        for c in range(n_clusters):
            exact = {
                r.vec_id
                for r in SIM.cosine_topk(emb, "vec_id", "embedding", c * 1000, k=10).collect()
            }
            ann = {
                r.vec_id
                for r in SIM.cosine_topk_lsh(
                    emb, "vec_id", "embedding", c * 1000, k=10, planes=4, tables=tables
                ).collect()
            }
            total += len(exact & ann) / 10
        return total / n_clusters

    r4 = recall(4)
    assert r4 >= 0.9, f"clustered-corpus LSH recall floor broken: {r4}"
    emb.unpersist()


def test_entity_resolution_links_to_true_entity(spark, sf_dir):
    """q140: every corrupted record must link to an original carrying the
    SAME p_name as its true source — min-dist + min-key tie-break may pick
    a different partkey among identically-named parts, but never a
    different name (the corruption distance is the floor within the
    block)."""
    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.plans.resolution import (
        q140_entity_resolution,
    )
    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.sources.readers import (
        load_table,
    )

    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    res = q140_entity_resolution(spark, sf_dir)
    truth = part.selectExpr("p_partkey + 1000000 AS dirty_id", "p_name AS true_name")
    matched = part.selectExpr("p_partkey AS match_id", "p_name AS matched_name")
    joined = res.join(truth, "dirty_id").join(matched, "match_id")
    n_total = joined.count()
    assert n_total == part.count(), "every dirty record must resolve"
    n_wrong = joined.filter("matched_name <> true_name").count()
    assert n_wrong == 0, f"{n_wrong} dirty records linked to a different entity name"


def test_misra_gries_superset_guarantee_any_partitioning(spark, sf_dir):
    """The MG candidate union must contain every true heavy hitter for ANY
    partitioning, and the full q142 output must be partitioning-invariant
    (the exact-recount filter makes the sketch a pruning device only)."""
    from pyspark.sql import functions as F

    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.functions.text import (
        normalize_text,
        tokens,
    )
    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.plans.resolution import (
        _MG_K,
        misra_gries_candidates,
    )
    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.sources.readers import (
        load_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.filter(normalize_text("text") != "")
        .select(tokens("text").alias("ts"))
        .select(F.explode("ts").alias("token"))
    )
    n = toks.count()
    exact = {
        r.token
        for r in toks.groupBy("token").count().filter(F.col("count") * (_MG_K + 1) > n).collect()
    }
    assert exact, "fixture should have at least one heavy hitter"
    for parts in (1, 3, 11):
        cands = {
            r.token
            for r in misra_gries_candidates(toks.repartition(parts), "token", _MG_K).collect()
        }
        assert exact <= cands, f"MG dropped a true heavy hitter at {parts} partitions"


def test_incremental_agg_merge_empty_delta_is_identity(spark, sf_dir):
    from pyspark.sql import functions as F

    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.plans.resolution import (
        _mv_rollup,
        incremental_agg_merge,
    )
    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.sources.readers import (
        load_table,
    )

    orders = load_table(spark, sf_dir, "orders")
    mv = _mv_rollup(orders)
    merged = incremental_agg_merge(mv, _mv_rollup(orders.filter(F.lit(False))))
    base = mv.select(
        "o_custkey", "cnt", F.round(F.col("rev").cast("double"), 2).alias("rev")
    )
    assert merged.exceptAll(base).count() == 0
    assert base.exceptAll(merged).count() == 0


def test_neardup_bucket_cap_inactive_at_test_scales(spark):
    """The q39/q117 mega-bucket guard (max_bucket=300) must be a no-op on
    organic fixtures: capped and uncapped pair sets identical at the
    correctness scales. (At the 10x-replicated sf1 rehearsal the cap IS
    active by design — PERF.md sf1 table.)"""
    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.operators.similarity import (
        embedding_neardup_pairs,
    )
    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.sources.readers import (
        load_table,
    )

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        emb = load_table(spark, sf, "embeddings")
        capped = embedding_neardup_pairs(
            emb, "vec_id", "embedding", threshold=0.3, planes=4, max_bucket=300
        )
        uncapped = embedding_neardup_pairs(
            emb, "vec_id", "embedding", threshold=0.3, planes=4
        )
        assert capped.exceptAll(uncapped).count() == 0, sf
        assert uncapped.exceptAll(capped).count() == 0, sf


def test_pq_codes_bounded_and_adc_recall_on_planted_clusters(spark, sf_dir):
    """PQ sanity in two parts. (1) On the real fixture: every
    (vec, subspace) gets exactly one code in [0, K). (2) ADC recall is
    meaningless on isotropic random vectors (quantization error >> gap
    between neighbors, same rationale as the LSH planted-cluster test),
    so recall is pinned on a planted corpus: 4 well-separated centers
    seeded as vec_ids 0-3 (= the codebook init), members = center +
    0.03*noise. Every exact and every ADC top-10 hit for the center-0
    query must be a cluster-0 member (cluster-level recall 1.0; in-cluster
    ranking is re-ranking's job, not PQ's)."""
    import numpy as np
    from pyspark.sql import functions as F

    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.plans.similarity import (
        _PQ_K,
        _PQ_M,
        _pq_dist,
        _pq_encode,
        pq_encode_df,
        pq_sub_frame_df,
    )
    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.sources.readers import (
        load_table,
    )

    code, cent = _pq_encode(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    n_vec = emb.count()
    assert code.count() == n_vec * _PQ_M
    assert code.filter((F.col("cid") < 0) | (F.col("cid") >= _PQ_K)).count() == 0

    rng = np.random.RandomState(7)
    centers = [rng.normal(size=64) * 4.0 for _ in range(_PQ_K)]
    rows = [(c, centers[c].astype("float32").tolist()) for c in range(_PQ_K)]
    vid = _PQ_K
    for c in range(_PQ_K):
        for _ in range(15):
            rows.append(
                (vid, (centers[c] + 0.03 * rng.normal(size=64)).astype("float32").tolist())
            )
            vid += 1
    planted = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    sub = pq_sub_frame_df(planted)
    pcode, pcent = pq_encode_df(sub)
    lutq = sub.filter(F.col("vec_id") == 0).select("s", F.col("sv").alias("qv"))
    lut = pcent.join(F.broadcast(lutq), "s").select(
        "s", "cid", F.round(_pq_dist(F.col("qv"), F.col("c")), 6).cast("decimal(18,6)").alias("d")
    )
    adc = (
        pcode.filter(F.col("vec_id") != 0)
        .join(F.broadcast(lut), ["s", "cid"])
        .groupBy("vec_id")
        .agg(F.sum("d").alias("dist"))
        .orderBy(F.col("dist").asc(), F.col("vec_id").asc())
        .limit(10)
    )
    vd = planted.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("vd")
    )
    target = vd.filter(F.col("vec_id") == 0).select(F.col("vd").alias("qv"))
    exact = (
        vd.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(target))
        .select("vec_id", _pq_dist(F.col("vd"), F.col("qv")).alias("d"))
        .orderBy(F.col("d").asc(), F.col("vec_id").asc())
        .limit(10)
    )
    exact_ids = {r.vec_id for r in exact.collect()}
    adc_ids = {r.vec_id for r in adc.collect()}
    # Within a cluster every member shares the same codes, so ADC cannot
    # rank INSIDE the cluster (that's re-ranking's job in a real PQ
    # pipeline); the planted guarantee is cluster-level: every ADC hit
    # and every exact hit must be a cluster-0 member.
    cluster0 = set(range(_PQ_K, _PQ_K + 15))
    assert exact_ids <= cluster0, f"exact top-10 escaped cluster 0: {sorted(exact_ids - cluster0)}"
    assert adc_ids <= cluster0, f"ADC top-10 escaped cluster 0: {sorted(adc_ids - cluster0)}"


def test_khop_hops_are_minimal_on_planted_graph(spark):
    """q161's frontier expansion must label every node with its MINIMAL
    hop distance. Planted graph: a path 1-2-3-4-5 plus a shortcut 1-4 —
    node 4 must be hop 1 (shortcut), node 5 hop 2, and the path must not
    relabel them at larger depths."""
    from pyspark.sql import functions as F

    edges_directed = [(1, 2), (2, 3), (3, 4), (4, 5), (1, 4)]
    directed = spark.createDataFrame(edges_directed, "a long, b long")
    edges = directed.unionAll(
        directed.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct()
    seed = edges.groupBy().agg(F.min("a").alias("node"))
    visited, frontier, out = seed, seed, None
    for hop in (1, 2, 3):
        frontier = (
            edges.join(frontier.select(F.col("node").alias("a")), "a")
            .select(F.col("b").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
        )
        labeled = frontier.select("node", F.lit(hop).alias("hops"))
        out = labeled if out is None else out.unionAll(labeled)
        visited = visited.unionAll(frontier.select("node"))
    got = {r.node: r.hops for r in out.collect()}
    assert got == {2: 1, 4: 1, 3: 2, 5: 2}


# ---------------------------------------------------------------------------
# Properties of the q171-q214 additions
# ---------------------------------------------------------------------------


def test_weighted_median_partitions_weight(spark, sf_dir):
    """For each segment, the weight strictly below the weighted median is
    < half the total, and weight up to and including it is >= half —
    the defining property, checked independently of the window plumbing."""
    import __spark_entry__ as entrymod

    med = {
        r["segment"]: r["weighted_median_price"]
        for r in entrymod.queries()["q202_weighted_median"](spark, sf_dir).collect()
    }
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    j = (
        li.join(orders.select("o_orderkey", "o_custkey"), li.l_orderkey == orders.o_orderkey)
        .join(cust.select("c_custkey", "c_mktsegment"), orders.o_custkey == cust.c_custkey)
        .select(F.col("c_mktsegment").alias("segment"), F.col("l_extendedprice").alias("v"),
                F.col("l_quantity").alias("w"))
    )
    for seg, m in med.items():
        tot = j.filter(F.col("segment") == seg).agg(F.sum("w")).collect()[0][0]
        below = j.filter((F.col("segment") == seg) & (F.col("v") < m)).agg(F.sum("w")).collect()[0][0] or 0.0
        upto = j.filter((F.col("segment") == seg) & (F.col("v") <= m)).agg(F.sum("w")).collect()[0][0]
        assert below * 2 < tot + 1e-6, seg
        assert upto * 2 >= tot - 1e-6, seg


def test_cms_sketch_is_mergeable(spark, sf_dir):
    """Count-min cells built on two disjoint halves sum cellwise to the
    full-corpus sketch — the property that makes CMS shardable at 100 TB."""
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_orderkey")
    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.plans.stats import (
        _CMS_D,
        _cms_bucket_col,
    )

    def cells(df):
        hashed = df.select(
            F.explode(
                F.array(*[F.struct(F.lit(j).alias("j"), _cms_bucket_col(j).alias("b")) for j in range(_CMS_D)])
            ).alias("jb")
        )
        return {
            (r["j"], r["b"]): r["n"]
            for r in hashed.groupBy(F.col("jb.j").alias("j"), F.col("jb.b").alias("b"))
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }

    full = cells(li)
    a = cells(li.filter(F.col("l_orderkey") % 2 == 0))
    b = cells(li.filter(F.col("l_orderkey") % 2 == 1))
    merged = {}
    for d in (a, b):
        for k, v in d.items():
            merged[k] = merged.get(k, 0) + v
    assert merged == full


def test_dense_id_mapping_is_bijective_and_append_only(spark, sf_dir):
    import __spark_entry__ as entrymod

    rows = entrymod.queries()["q207_dense_id_mapping"](spark, sf_dir).collect()
    dense = sorted(r["dense_id"] for r in rows)
    assert dense == list(range(1, len(rows) + 1))  # bijection onto 1..N
    max_old = max(r["dense_id"] for r in rows if not r["is_new"])
    assert all(r["dense_id"] > max_old for r in rows if r["is_new"])  # append-only


def test_int8_quantization_error_is_bounded(spark, sf_dir):
    """Quantized cosine must track the exact cosine: reconstruction moves
    each coordinate < half a quantization step, so top-10 scores stay
    within a small absolute band (loose 0.05 bound; typically ~1e-3)."""
    import __spark_entry__ as entrymod

    rows = entrymod.queries()["q177_int8_quantized_ann"](spark, sf_dir).collect()
    assert rows and all(abs(r["score_q"] - r["score_exact"]) < 0.05 for r in rows)


def test_cusum_equals_naive_replay(spark, sf_dir):
    """The applyInPandas CUSUM must equal a driver-side replay of the same
    hourly series (independent recomputation, not the operator's code)."""
    import __spark_entry__ as entrymod

    rows = entrymod.queries()["q183_cusum_drift"](spark, sf_dir).collect()
    by_type = {}
    for r in sorted(rows, key=lambda r: (r["event_type"], r["hour_s"])):
        by_type.setdefault(r["event_type"], []).append(r)
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.groupBy("event_type", F.date_trunc("hour", F.col("ts")).cast("long").alias("h"))
        .agg(F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("x"))
        .collect()
    )
    series = {}
    for r in hourly:
        series.setdefault(r["event_type"], {})[r["h"]] = r["x"]
    for et, rs in by_type.items():
        xs = series[et]
        mean = sum(sorted(xs.values())) / len(xs)  # sorted() only stabilizes the check's own fold
        s = 0.0
        for r in rs:
            s = max(0.0, s + (xs[r["hour_s"]] - mean))
            assert abs(r["cusum"] - round(s, 6)) < 1e-4, (et, r["hour_s"])


def test_grid_join_finds_every_radius_pair(spark, sf_dir):
    """Spatial-grid completeness: the 3x3 cell ring must surface EVERY
    (customer, supplier) pair within eps — checked against an exhaustive
    cross join (independent of the grid path). Guaranteed because the
    cell edge (1 deg) exceeds eps (0.5); this pins the invariant so a
    future eps/cell-size change can't silently break candidate recall."""
    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.plans import (
        spatial as SP,
    )

    cust = SP._pts(load_table(spark, sf_dir, "customer"), "c_custkey", SP._C_LAT, SP._C_LON, "c")
    supp = SP._pts(load_table(spark, sf_dir, "supplier"), "s_suppkey", SP._S_LAT, SP._S_LON, "s")
    d2 = SP._dist2(F.col("clat"), F.col("clon"), F.col("slat"), F.col("slon"))
    brute = cust.crossJoin(supp).filter(d2 < SP._EPS2).select("c_custkey", "s_suppkey")
    grid = cust.join(
        F.broadcast(SP._grid9(supp)),
        (F.col("cy") == F.col("gy")) & (F.col("cx") == F.col("gx")),
    ).filter(d2 < SP._EPS2).select("c_custkey", "s_suppkey")
    assert brute.exceptAll(grid).count() == 0
    assert grid.exceptAll(brute).count() == 0


def test_ppjoin_exact_contains_all_lsh_verified_pairs(spark, sf_dir):
    """q237 is the EXACT Jaccard>=0.5 shingle join; q33 scores the LSH
    candidate pairs for the same predicate (candidates may be missed,
    never invented). Exactness invariant: every LSH candidate that
    clears the threshold appears in the PPJoin result."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    exact = {(r["id_a"], r["id_b"]) for r in qs["q237_ppjoin_exact"](spark, sf_dir).collect()}
    lsh = {
        (r["id_a"], r["id_b"])
        for r in qs["q33_dedup_jaccard_verify"](spark, sf_dir).collect()
        if r["jaccard"] >= 0.5
    }
    assert lsh <= exact, sorted(lsh - exact)[:5]
    assert exact, "exact join found no pairs — degenerate fixture"
