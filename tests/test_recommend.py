"""Behavioral tests for the recommendation operators (SURVEY §5.2).

ALS factorization VALUES are not SQL-reproducible; since round 9 q50
surfaces the output's structural contract (k rows per user, coverage,
known items, bounded finite scores) as an oracle-checked row, while the
VALUE-level behavioral contract lives here: finite predictions,
seeded-rerun equality, and held-out RMSE below a slack threshold. ``popular_unseen``'s candidate bound (the
100 TB guard against the |users| × |items| cross join) is proven by plan
and row count.
"""

from __future__ import annotations

import math
import os

import pytest
from pyspark.sql import functions as F

from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.operators import (
    recommend as REC,
)
from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.plans.ml import (
    _ratings,
)

K = 5


def _fit_recs(spark, sf_dir, seed=42, ratings=None):
    ratings = _ratings(spark, sf_dir) if ratings is None else ratings
    model = REC.train_als(ratings, "user", "item", "rating", rank=8, max_iter=5, seed=seed)
    return ratings, REC.als_recommendations(model, k=K)


def test_als_exactly_k_rows_per_user_and_finite_predictions(spark, sf_dir):
    ratings, recs = _fit_recs(spark, sf_dir)
    rows = recs.collect()
    per_user = {}
    for r in rows:
        per_user[r.user] = per_user.get(r.user, 0) + 1
        assert math.isfinite(r.predicted_rating), f"non-finite prediction for {r.user}"
    assert per_user and all(n == K for n in per_user.values())
    # every rated user survives coldStartStrategy="drop" in full-data training
    assert set(per_user) == {r.user for r in ratings.select("user").distinct().collect()}


# each side of the block rule: the sf0.001 parquet inputs (1 block) and
# the same ratings checkpointed, with no input files (MLlib's 10 blocks)
@pytest.mark.parametrize(
    "no_files, blocks", [(False, 1), (True, 10)], ids=["files", "no_files"]
)
def test_als_seeded_rerun_is_identical(spark, sf_dir, no_files, blocks):
    ratings = _ratings(spark, sf_dir)
    if no_files:
        ratings = ratings.localCheckpoint()
    assert REC._als_blocks(ratings) == blocks
    _, a = _fit_recs(spark, sf_dir, seed=42, ratings=ratings)
    _, b = _fit_recs(spark, sf_dir, seed=42, ratings=ratings)
    ra = sorted((r.user, r.item, round(r.predicted_rating, 5)) for r in a.collect())
    rb = sorted((r.user, r.item, round(r.predicted_rating, 5)) for r in b.collect())
    assert ra == rb


def test_als_blocks_one_per_mib_of_input_files(spark, tmp_path):
    """The block count is the input files' summed length in MiB, rounded
    up and capped at MLlib's 10; it lists files, it runs no job."""
    # inputFiles() percent-escapes a space or '%' in the path
    small = str(tmp_path / "my dir%41" / "small.parquet")
    spark.range(1000).select(
        F.col("id").cast("int").alias("user"), F.lit(1.0).cast("float").alias("rating")
    ).coalesce(1).write.parquet(small)
    assert REC._als_blocks(spark.read.parquet(small)) == 1

    # random doubles do not compress: ~1.6 MB over 4 part files < 1 MiB each
    multi = str(tmp_path / "multi.parquet")
    spark.range(0, 200_000, 1, 4).select(F.rand(1).alias("rating")).write.parquet(multi)
    parts = [os.path.join(multi, f) for f in os.listdir(multi) if f.startswith("part-")]
    sizes = [os.path.getsize(f) for f in parts]
    assert len(parts) == 4 and max(sizes) < 1 << 20 < sum(sizes)
    assert REC._als_blocks(spark.read.parquet(multi)) == math.ceil(sum(sizes) / (1 << 20))

    sf01 = _ratings(spark, "/root/testdata/sf0.1")
    sc = spark.sparkContext
    sc.setJobGroup("als-blocks", "als-blocks")
    try:
        assert REC._als_blocks(sf01) == 10
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("als-blocks") == []


# (a localCheckpoint frame is the [no_files] case of the seeded-rerun test)
@pytest.mark.parametrize("source", ["createDataFrame", "cache"])
def test_als_blocks_default_without_input_files(spark, sf_dir, source):
    ratings = _ratings(spark, sf_dir)
    if source == "createDataFrame":
        frame = spark.createDataFrame(ratings.limit(50).collect(), ratings.schema)
    else:
        frame = ratings.cache()
    assert frame.inputFiles() == []
    assert REC._als_blocks(frame) == 10
    ratings.unpersist()


def test_als_heldout_rmse_below_slack(spark, sf_dir):
    ratings = _ratings(spark, sf_dir).cache()
    train, test = ratings.randomSplit([0.8, 0.2], seed=7)
    model = REC.train_als(train, "user", "item", "rating", rank=8, max_iter=5, seed=42)
    pred = model.transform(test).filter(F.col("prediction").isNotNull())
    row = pred.agg(
        F.sqrt(F.avg((F.col("rating") - F.col("prediction")) ** 2)).alias("rmse"),
        F.stddev("rating").alias("sd"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    ratings.unpersist()
    assert row.n > 0
    # implicit-quantity ratings are noisy; the model must at least beat
    # 2x the signal's own spread (catches degenerate/NaN factorizations)
    assert math.isfinite(row.rmse) and row.rmse < 2.0 * row.sd


@pytest.mark.slow
@pytest.mark.skipif(
    not __import__("os").path.exists("/root/reference/data/u.data"),
    reason="reference data not present",
)
def test_als_at_reference_config(spark):
    """The exact reference workload — maxIter=10, regParam=0.01, rank=10
    (/root/reference/src/model.py:10-11; rank is the ALS default there)
    on the data it was tuned for, the real MovieLens-100k 1–5 star
    ratings — must satisfy the trimmed harness config's behavioral
    contract: k rows per user, finite predictions, held-out RMSE below
    slack. (The synthetic implicit-quantity fixture is NOT suitable
    here: this low-regularization config overfits it.)"""
    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark import (
        pipelines,
    )

    processed = pipelines.preprocess(
        spark, "/root/reference/data/u.data", "/root/reference/data/u.item"
    )
    ratings = processed.select(
        F.col("userId").alias("user"),
        F.col("movieId").alias("item"),
        F.col("rating").cast("float").alias("rating"),
    ).cache()
    model = REC.train_als(
        ratings, "user", "item", "rating", rank=10, max_iter=10, reg_param=0.01, seed=42
    )
    recs = REC.als_recommendations(model, k=K)
    rows = recs.collect()
    per_user = {}
    for r in rows:
        per_user[r.user] = per_user.get(r.user, 0) + 1
        assert math.isfinite(r.predicted_rating)
    assert len(per_user) == 943 and all(n == K for n in per_user.values())
    train, test = ratings.randomSplit([0.8, 0.2], seed=7)
    m2 = REC.train_als(
        train, "user", "item", "rating", rank=10, max_iter=10, reg_param=0.01, seed=42
    )
    pred = m2.transform(test).filter(F.col("prediction").isNotNull())
    row = pred.agg(
        F.sqrt(F.avg((F.col("rating") - F.col("prediction")) ** 2)).alias("rmse"),
        F.stddev("rating").alias("sd"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    ratings.unpersist()
    assert row.n > 0 and math.isfinite(row.rmse)
    # MovieLens sd ≈ 1.13; a sane factorization lands well under 1*sd
    assert row.rmse < row.sd


def _toy_interactions(spark):
    # 4 users, items 1..10 with popularity = 11 - item (item 1 most popular)
    rows = []
    for item in range(1, 11):
        for copy in range(11 - item):
            rows.append((100 + copy % 4, item))
    return spark.createDataFrame(rows, "cust long, item long")


def test_popular_unseen_bound_truncates_candidates(spark):
    inter = _toy_interactions(spark)
    users = spark.createDataFrame([(100,), (101,), (999,)], "cust long")
    exact = REC.popular_unseen(inter, "cust", "item", users, k=3, max_seen_per_user=None)
    bounded = REC.popular_unseen(inter, "cust", "item", users, k=3, max_seen_per_user=10)
    assert sorted(map(tuple, exact.collect())) == sorted(map(tuple, bounded.collect()))
    # user 999 saw nothing: gets the global top-3 by (popularity desc, item asc)
    top999 = [(r.item, r.rec_rank) for r in bounded.filter("cust = 999").collect()]
    assert sorted(top999, key=lambda t: t[1]) == [(1, 1), (2, 2), (3, 3)]


def test_q51_cohort_within_bound_and_exact(spark):
    """q51 inherits popular_unseen's default max_seen_per_user=1000 while
    its oracle computes the exact untruncated result — the match rests on
    the data property that every cohort user saw <= 1000 distinct items.
    Check that property holds at the oracle scale AND that the bounded
    result equals the exact one there, so fixture drift can't silently
    break the q51 oracle."""
    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.sources.readers import (
        load_table,
    )

    sf_dir = "/root/testdata/sf0.01"  # the driver's correctness scale
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    inter = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("item")
    )
    users = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") <= 20)
        .select(F.col("c_custkey").alias("cust"))
    )
    max_seen = (
        inter.join(users, "cust")
        .groupBy("cust")
        .agg(F.countDistinct("item").alias("n"))
        .agg(F.max("n"))
        .collect()[0][0]
    )
    assert max_seen is not None and max_seen <= 1000, (
        f"q51 exactness precondition broken: a cohort user saw {max_seen} "
        "distinct items (> bound 1000); raise the bound in q51 or mirror "
        "the truncation in its oracle"
    )
    bounded = REC.popular_unseen(inter, "cust", "item", users, k=3)  # default bound
    exact = REC.popular_unseen(inter, "cust", "item", users, k=3, max_seen_per_user=None)
    assert sorted(map(tuple, bounded.collect())) == sorted(map(tuple, exact.collect()))


def test_popular_unseen_bound_is_a_distributed_partial_topk(spark):
    inter = _toy_interactions(spark)
    users = spark.createDataFrame([(100,)], "cust long")
    df = REC.popular_unseen(inter, "cust", "item", users, k=3, max_seen_per_user=4)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the popularity truncation compiles to TakeOrderedAndProject (partial
    # per-partition top-k, no global sort) and feeds a broadcast, so
    # candidates are O(|users| * (k + bound)), never |users| * |items|
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # candidate cardinality bound holds: <= |users| * (k + bound) rows survive
    assert df.count() <= 1 * (3 + 4)


# ---------------------------------------------------------------------------
# q402 scale-safe ALS batch top-k (round-10 VERDICT task 1): the ANN
# path must (a) degenerate to the EXACT recommendForAllUsers answer when
# the candidate budget covers the catalog (sf0.001/sf0.01 posture), and
# (b) hold recall@k >= 0.95 vs exact at sf0.1, where the budget covers
# only ~10% of the item catalog — the pinned contract that lets the
# sf10 run replace the killed quadratic scorer.
# ---------------------------------------------------------------------------


def _factor_frames(model):
    return (
        model.userFactors.select("id", "features"),
        model.itemFactors.select("id", "features"),
    )


def test_ann_topk_exact_when_budget_covers_catalog(spark, sf_dir):
    ratings = _ratings(spark, sf_dir)
    model = REC.train_als(ratings, "user", "item", "rating", rank=8, max_iter=5, seed=42)
    uf, itf = _factor_frames(model)
    exact = {
        (r.user, r.item)
        for r in REC.als_recommendations(model, k=K).collect()
    }
    ann = REC.ann_factor_topk(uf, itf, rank=8, k=K, cand_budget=2048)
    got = [(r.user, r.item, r.predicted_rating) for r in ann.collect()]
    per_user = {}
    for u, _, s in got:
        per_user[u] = per_user.get(u, 0) + 1
        assert math.isfinite(s)
    assert per_user and all(n == K for n in per_user.values())
    # budget (2048) >= items (~200 at sf0.001): every cell is selected,
    # so the ANN result IS the exact top-k (ties aside, which the float
    # dot products make measure-zero)
    overlap = len({(u, i) for u, i, _ in got} & exact)
    assert overlap / len(exact) >= 0.999


def test_ann_topk_empty_item_factors_is_explicit(spark):
    """No item factors: an explicit ValueError before codebook training,
    not an obscure numpy failure inside it."""
    uf = spark.createDataFrame([(1, [0.5] * 8)], "id int, features array<float>")
    itf = spark.createDataFrame([], "id int, features array<float>")
    with pytest.raises(ValueError, match="itemFactors is empty"):
        REC.ann_factor_topk(uf, itf, rank=8, k=K)


@pytest.mark.slow
def test_ann_topk_recall_at_sf01(spark):
    """The pinned q402 recall contract: recall@5 vs exact
    recommendForAllUsers >= 0.95 at sf0.1, where the candidate budget
    covers under a quarter of the ~20k-item catalog (the coarse PQ-cell
    ranking is doing real work, not degenerating to brute force).
    Mirrors q402's exact parameters (m/kcodes operator defaults,
    cand_budget=4608, lloyd_iters=3 — r11 retuning: 256 product cells
    instead of 4096 cut the coarse-probe explosion ~10x; the budget rose
    3072 -> 4608 to hold recall over the blockier whole-cell selection;
    measured 0.9592)."""
    sf_dir = "/root/testdata/sf0.1"
    ratings = _ratings(spark, sf_dir)
    model = REC.train_als(ratings, "user", "item", "rating", rank=8, max_iter=5, seed=42)
    uf, itf = _factor_frames(model)
    n_items = itf.count()
    # intent: the budget covers well under the full catalog, so the
    # coarse stage does real work (ADVICE r11: fraction-based so a small
    # fixture regeneration can't flip the guard while the recall
    # contract still holds)
    assert 4608 < n_items // 4, "sf0.1 catalog should dwarf the budget"
    exact = REC.als_recommendations(model, k=K).select(
        "user", "item", F.lit(1).alias("__hit")
    )
    ann = REC.ann_factor_topk(
        uf, itf, rank=8, k=K, cand_budget=4608, lloyd_iters=3
    ).select("user", "item")
    row = (
        ann.join(exact, ["user", "item"], "left")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("hits"),
        )
        .collect()[0]
    )
    recall = row.hits / row.n
    print(f"q402 recall@{K} at sf0.1: {recall:.4f} ({row.hits}/{row.n})")
    assert recall >= 0.95, f"ANN recall@{K} {recall:.4f} below the 0.95 pin"
