"""ML / recommendation query catalog (SURVEY.md §2.9): ALS, item-item
similarity, market baskets and association rules, and ranking
evaluation.

ALS is seeded but factorization VALUES aren't SQL-reproducible; q50
therefore oracle-checks the output's STRUCTURAL contract (coverage,
per-user k, item provenance, bounded scores — round-8 VERDICT task 7)
while tests/test_recommend.py holds the value-level behavioral line
(seeded RMSE slack). q51 is the deterministic, fully-oracled
collaborative baseline.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import dec, dec_sql
from ..functions.text import TOKS_SQL, md5_hex_int_sql, tokens
from ..operators import recommend as REC
from ..sources.readers import load_table
from .catalog import register
from .core import REVENUE_SQL, _revenue


def _ratings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Implicit ratings from the star schema: customer × part with total
    ordered quantity as the rating signal (reference shape: userId ×
    movieId × rating, model.py:8)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey", "l_quantity")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_custkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .select(
            F.col("o_custkey").cast("int").alias("user"),
            F.col("l_partkey").cast("int").alias("item"),
            F.col("qty").cast("float").alias("rating"),
        )
    )


# ALS factorization VALUES aren't expressible in ANSI SQL, but the
# output's STRUCTURAL contract is (round-8 VERDICT task 7): exactly k
# recommendations per user, every training user covered, every
# recommended item drawn from the training item set, every score
# finite and inside a generous pinned band. The query trains ALS, then
# folds the actual recommendation frame into one contract row; the
# oracle derives the same row purely from the INPUT tables (what the
# contract says MUST come out). A hash match means the pipeline
# honored the contract; the factorization values themselves stay
# behaviorally checked (seeded RMSE slack, tests/test_recommend.py).
_ALS_K = 5
# |predicted_rating| bound: ratings are summed l_quantity per
# (cust, part) — <= ~300 at any SF — so a seeded rank-8 ALS cannot
# legitimately reach 1e4; a blow-up here means divergence, not taste.
_ALS_BAND = 1.0e4


_ALS_CONTRACT_ORACLE = f"""
    WITH users AS (
      SELECT DISTINCT o.o_custkey AS u
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(COUNT(*) * {_ALS_K} AS BIGINT) AS n_rows,
           CAST({_ALS_K} AS BIGINT) AS min_per_user,
           CAST({_ALS_K} AS BIGINT) AS max_per_user,
           CAST(0 AS BIGINT) AS n_unknown_items,
           CAST(0 AS BIGINT) AS n_bad_scores
    FROM users
    """


def _als_contract_fold(recs: DataFrame, ratings: DataFrame) -> DataFrame:
    """Fold a (user, item, score) rec frame into the one-row structural
    contract the q50/q402 oracle pins: coverage, per-user k, item
    provenance, bounded scores. Single pass: broadcast the training item
    set to mark unknown items, fold per-user, then one global fold —
    one shuffle (the per-user groupBy)."""
    items = ratings.select("item").distinct().withColumn("__known", F.lit(1))
    j = recs.join(F.broadcast(items), "item", "left")
    bad = (
        F.isnan("score")
        | F.col("score").isNull()
        | ~F.col("score").between(-_ALS_BAND, _ALS_BAND)
    )
    per_user = j.groupBy("user").agg(
        F.count(F.lit(1)).alias("k"),
        F.sum(F.when(F.col("__known").isNull(), 1).otherwise(0)).alias("unk"),
        F.sum(F.when(bad, 1).otherwise(0)).alias("bad"),
    )
    return per_user.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("k").cast("bigint").alias("n_rows"),
        F.min("k").cast("bigint").alias("min_per_user"),
        F.max("k").cast("bigint").alias("max_per_user"),
        F.sum("unk").cast("bigint").alias("n_unknown_items"),
        F.sum("bad").cast("bigint").alias("n_bad_scores"),
    )


@register("q50_als_recommend", oracle=_ALS_CONTRACT_ORACLE)
def q50_als_recommend(spark: SparkSession, sf_dir: str) -> DataFrame:
    ratings = _ratings(spark, sf_dir)
    model = REC.train_als(ratings, "user", "item", "rating", rank=8, max_iter=5, seed=42)
    recs = REC.als_recommendations(model, k=_ALS_K).select(
        "user", "item", F.col("predicted_rating").cast("double").alias("score")
    )
    return _als_contract_fold(recs, ratings)


@register("q402_als_ann_topk", oracle=_ALS_CONTRACT_ORACLE)
def q402_als_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-safe ALS batch scoring (round-10 VERDICT task 1): the same
    per-user top-k contract as q50, computed via PQ-cell coarse search +
    exact re-rank over the factor matrices instead of the users × items
    block-matmul ``recommendForAllUsers`` runs (reference src/model.py:13).
    Per-user cost O(cells + budget), independent of the item-catalog
    size; recall@k vs exact is pinned >= 0.95 at sf0.1
    (tests/test_recommend.py). Same structural oracle as q50 — exactly k
    recs per training user, items from the training set, bounded scores."""
    ratings = _ratings(spark, sf_dir)
    model = REC.train_als(ratings, "user", "item", "rating", rank=8, max_iter=5, seed=42)
    uf = model.userFactors.select(F.col("id").alias("id"), "features")
    itf = model.itemFactors.select(F.col("id").alias("id"), "features")
    # m/kcodes passed EXPLICITLY (ADVICE r11): the 2/16 = 256-cell
    # geometry was tuned for exactly this rank-8 / budget-4608 call and
    # its recall pin; callers at other ranks must re-validate.
    recs = REC.ann_factor_topk(
        uf, itf, rank=8, k=_ALS_K, cand_budget=4608, m=2, kcodes=16, lloyd_iters=3
    ).select("user", "item", F.col("predicted_rating").cast("double").alias("score"))
    return _als_contract_fold(recs, ratings)


@register(
    "q51_popular_unseen",
    oracle="""
    WITH inter AS (
      SELECT o.o_custkey AS cust, l.l_partkey AS item
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
    pop AS (SELECT item, COUNT(*) AS popularity FROM inter GROUP BY item),
    usr AS (SELECT c_custkey AS cust FROM customer WHERE c_custkey <= 20),
    cand AS (
      SELECT u.cust, p.item, p.popularity FROM usr u CROSS JOIN pop p
      WHERE NOT EXISTS (SELECT 1 FROM inter i WHERE i.cust = u.cust AND i.item = p.item)),
    ranked AS (
      SELECT cust, item, popularity,
             ROW_NUMBER() OVER (PARTITION BY cust ORDER BY popularity DESC, item ASC) AS rec_rank
      FROM cand)
    SELECT cust, item, popularity, rec_rank FROM ranked WHERE rec_rank <= 3
    """,
)
def q51_popular_unseen(spark: SparkSession, sf_dir: str) -> DataFrame:
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
    return REC.popular_unseen(inter, "cust", "item", users, k=3)


def lineitem_baskets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(l_orderkey, parts)``: each order's co-purchase basket, its
    sorted distinct ``l_partkey`` array (the oracles'
    ``list_sort(list_distinct(list(l_partkey)))``)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return li.groupBy("l_orderkey").agg(
        F.array_sort(F.array_distinct(F.collect_list("l_partkey"))).alias("parts")
    )


def basket_pairs(a: str = "a", b: str = "b") -> Column:
    """Every unordered pair of the sorted distinct array column ``parts``
    as an array of ``struct(x AS a, y AS b)`` with ``x < y``: element i
    pairs with the slice after it, so no pair is generated twice or
    filtered away."""
    return F.expr(
        "flatten(transform(parts, (a, i) ->"
        f" transform(slice(parts, i + 2, size(parts)), b -> struct(a AS {a}, b AS {b}))))"
    )


# The SQL side of ``lineitem_baskets`` and of ``basket_pairs`` exploded
# as ``(part_a, part_b)`` rows.
BASKETS_CTE = """baskets AS (
      SELECT l_orderkey, list_sort(list_distinct(list(l_partkey))) AS parts
      FROM lineitem GROUP BY l_orderkey)"""
BASKET_PAIRS_CTE = f"""{BASKETS_CTE},
    pairs AS (
      SELECT p1.part AS part_a, p2.part AS part_b
      FROM baskets, UNNEST(parts) AS p1(part), UNNEST(parts) AS p2(part)
      WHERE p1.part < p2.part)"""


# ---------------------------------------------------------------------------
# q73 — market-basket co-occurrence: part pairs bought in the same order
# (collect per order, explode sorted pairs — no self-join), with support
# counts. The co-purchase signal an item-item recommender consumes.
# ---------------------------------------------------------------------------
@register(
    "q73_cooccurrence",
    oracle=f"""
    WITH {BASKET_PAIRS_CTE}
    SELECT part_a, part_b, COUNT(*) AS support
    FROM pairs GROUP BY part_a, part_b
    HAVING COUNT(*) >= 2
    """,
)
def q73_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = (
        lineitem_baskets(spark, sf_dir)
        .select(F.explode(basket_pairs("part_a", "part_b")).alias("p"))
        .select("p.part_a", "p.part_b")
    )
    return (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= 2)
    )


# ---------------------------------------------------------------------------
# q75 — item-item similarity recommender (deterministic collaborative
# filtering, the oracle-checkable counterpart of ALS): cosine over binary
# purchase vectors = support(a,b) / sqrt(pop(a)·pop(b)), top-3 neighbors
# per item. Pure count arithmetic — no factorization, no RNG.
# ---------------------------------------------------------------------------
@register(
    "q75_item_item_similarity",
    oracle=f"""
    WITH {BASKET_PAIRS_CTE},
    support AS (SELECT part_a, part_b, COUNT(*) AS sup FROM pairs GROUP BY part_a, part_b),
    pop AS (SELECT part, COUNT(*) AS pop FROM (SELECT DISTINCT l_orderkey, l_partkey AS part FROM lineitem) GROUP BY part),
    sym AS (
      SELECT part_a AS item, part_b AS neigh, sup FROM support
      UNION ALL
      SELECT part_b, part_a, sup FROM support),
    scored AS (
      SELECT s.item, s.neigh,
             ROUND(CAST(s.sup AS DOUBLE) / sqrt(CAST(pa.pop AS DOUBLE) * CAST(pb.pop AS DOUBLE)), 4) AS sim
      FROM sym s JOIN pop pa ON pa.part = s.item JOIN pop pb ON pb.part = s.neigh
      WHERE s.sup >= 2),
    ranked AS (
      SELECT item, neigh, sim,
             CAST(ROW_NUMBER() OVER (PARTITION BY item ORDER BY sim DESC, neigh ASC) AS BIGINT) AS rn
      FROM scored)
    SELECT item, neigh, sim, rn FROM ranked WHERE rn <= 3
    """,
)
def q75_item_item_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # baskets feeds BOTH the pair explode and the popularity count, and
    # popularity derives from exploding the already-distinct parts
    # arrays — value-identical to DISTINCT(l_orderkey, l_partkey)
    # without a second full fact scan + distinct shuffle. DELIBERATELY
    # UNPINNED (r11 negative result, restated r12 after the comments
    # here had gone stale): lazy checkpoints on baskets/support measured
    # 2.97 -> 3.07 s because the consumers replay as PARALLEL stages of
    # one job — recompute overlaps for free, a pin only serializes. The
    # committed plan therefore shows the baskets subtree replayed per
    # consumer (4 lineitem scans), traded for zero materialization.
    baskets = lineitem_baskets(spark, sf_dir)
    support = (
        baskets.select(F.explode(basket_pairs("part_a", "part_b")).alias("p"))
        .select("p.part_a", "p.part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("sup"))
        .filter(F.col("sup") >= 2)
    )
    pop = (
        baskets.select(F.explode("parts").alias("part"))
        .groupBy("part").agg(F.count(F.lit(1)).alias("pop"))
    )
    sym = support.select(
        F.col("part_a").alias("item"), F.col("part_b").alias("neigh"), "sup"
    ).unionAll(
        support.select(F.col("part_b").alias("item"), F.col("part_a").alias("neigh"), "sup")
    )
    pa = pop.select(F.col("part").alias("item"), F.col("pop").alias("pop_a"))
    pb = pop.select(F.col("part").alias("neigh"), F.col("pop").alias("pop_b"))
    scored = (
        sym.join(F.broadcast(pa), "item")
        .join(F.broadcast(pb), "neigh")
        .select(
            "item",
            "neigh",
            F.round(
                F.col("sup").cast("double")
                / F.sqrt(F.col("pop_a").cast("double") * F.col("pop_b").cast("double")),
                4,
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("item").orderBy(F.desc("sim"), F.asc("neigh"))
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= 3)
        .select("item", "neigh", "sim", "rn")
    )


# ---------------------------------------------------------------------------
# q157 — decile calibration curve (the model-prep binning every ranking /
# propensity pipeline builds): users are bucketed into equal-frequency
# deciles by their total 'view' spend, and each decile reports its user
# count, exact decimal spend mean, and purchase-conversion rate. ntile
# over one grouped pass + a conditional aggregate — two shuffles total.
# Rates are ROUND()ed from integer ratios so both engines emit identical
# doubles.
# ---------------------------------------------------------------------------
@register(
    "q157_calibration_deciles",
    oracle="""
    WITH u AS (
      SELECT user_id,
             SUM(CASE WHEN event_type = 'view'
                 THEN CAST(ROUND(value, 6) AS DECIMAL(18,6)) ELSE CAST(0 AS DECIMAL(18,6)) END) AS spend,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
      FROM events GROUP BY user_id),
    b AS (SELECT user_id, spend, converted,
                 NTILE(10) OVER (ORDER BY spend DESC, user_id) AS decile
          FROM u)
    SELECT CAST(decile AS BIGINT) AS decile, COUNT(*) AS n_users,
           ROUND(CAST(SUM(spend) AS DOUBLE) / COUNT(*), 6) AS avg_spend,
           ROUND(CAST(SUM(converted) AS DOUBLE) / COUNT(*), 6) AS conversion_rate
    FROM b GROUP BY decile
    """,
)
def q157_calibration_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    dec6 = F.round(F.col("value"), 6).cast("decimal(18,6)")
    u = ev.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("event_type") == "view", dec6).otherwise(F.lit(0).cast("decimal(18,6)"))
        ).alias("spend"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("converted"),
    )
    w = Window.orderBy(F.col("spend").desc(), F.col("user_id"))
    b = u.withColumn("decile", F.ntile(10).over(w))
    return b.groupBy(F.col("decile").cast("bigint").alias("decile")).agg(
        F.count(F.lit(1)).alias("n_users"),
        F.round(F.sum("spend").cast("double") / F.count(F.lit(1)), 6).alias("avg_spend"),
        F.round(F.sum("converted").cast("double") / F.count(F.lit(1)), 6).alias(
            "conversion_rate"
        ),
    )


# ---------------------------------------------------------------------------
# q146 — triangle counting over the support-pruned co-purchase graph
# (q126's basket pairs, kept only when two parts co-occur in >= 2
# orders). Canonical a<b<c orientation: each triangle is materialized
# exactly once by joining the ordered edge list to itself twice
# (e1(a,b) ⋈ e2(b,c) ⋈ e3(a,c)), then per-node participation counts.
# Output: top-20 nodes by triangle membership.
#
# Shape (100 TB): the support threshold is the degree bound — it prunes
# the quadratic tail of popular nodes BEFORE the self-joins (the same
# role as dedup's max_bucket cap); the ordered orientation halves the
# edge list and removes all duplicate/rotated triangles without a
# post-hoc distinct. Two shuffles (self-join keys), no iteration.
# ---------------------------------------------------------------------------
_TRI_MIN_SUP = 2


# ---------------------------------------------------------------------------
# q169 — association rules over co-purchase baskets (support /
# confidence / lift — the market-basket completion of q73/q146): for
# every ordered item pair with support >= 2, confidence = sup(a,b) /
# sup(a) and lift = N·sup(a,b) / (sup(a)·sup(b)). All ratios are
# single-rounded integer divisions, so cross-engine doubles match.
# Top-20 rules by lift. Shape: the q126 basket-pair explode + one
# broadcast join of per-item supports — never all-pairs.
# ---------------------------------------------------------------------------
@register(
    "q169_association_rules",
    oracle=f"""
    WITH {BASKETS_CTE},
    n AS (SELECT COUNT(*) AS n_baskets FROM baskets),
    item AS (
      SELECT u.part AS item, COUNT(*) AS sup_i
      FROM baskets, UNNEST(parts) AS u(part) GROUP BY u.part),
    pair AS (
      SELECT p1.part AS a, p2.part AS b, COUNT(*) AS sup
      FROM baskets, UNNEST(parts) AS p1(part), UNNEST(parts) AS p2(part)
      WHERE p1.part < p2.part GROUP BY a, b HAVING COUNT(*) >= {_TRI_MIN_SUP})
    SELECT a, b, CAST(sup AS BIGINT) AS sup,
           ROUND(CAST(sup AS DOUBLE) / ia.sup_i, 6) AS confidence,
           ROUND(CAST(n.n_baskets AS DOUBLE) * sup / (ia.sup_i * ib.sup_i), 6) AS lift
    FROM pair JOIN item ia ON pair.a = ia.item
              JOIN item ib ON pair.b = ib.item
              CROSS JOIN n
    ORDER BY lift DESC, a ASC, b ASC LIMIT 20
    """,
)
def q169_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    baskets = lineitem_baskets(spark, sf_dir)
    n = baskets.groupBy().agg(F.count(F.lit(1)).alias("n_baskets"))
    item = (
        baskets.select(F.explode("parts").alias("item"))
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("sup_i"))
    )
    pair = (
        baskets.select(F.explode(basket_pairs()).alias("p"))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("sup"))
        .filter(F.col("sup") >= _TRI_MIN_SUP)
    )
    ia = item.select(F.col("item").alias("a"), F.col("sup_i").alias("sup_a"))
    ib = item.select(F.col("item").alias("b"), F.col("sup_i").alias("sup_b"))
    return (
        pair.join(F.broadcast(ia), "a")
        .join(F.broadcast(ib), "b")
        .crossJoin(F.broadcast(n))
        .select(
            "a",
            "b",
            F.col("sup").cast("bigint").alias("sup"),
            F.round(F.col("sup").cast("double") / F.col("sup_a"), 6).alias("confidence"),
            F.round(
                F.col("n_baskets").cast("double") * F.col("sup")
                / (F.col("sup_a") * F.col("sup_b")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), F.asc("a"), F.asc("b"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q200 — exponentially time-decayed popularity (the recsys trending
# score; what q51's popularity base becomes once freshness matters):
# each order contributes exp(-0.05 * age_days) to its part-brand's
# score, age measured against the corpus's latest order day (broadcast
# 1-row frame). Order-independence: every decay term is rounded to
# DECIMAL(20,12) and decimal-summed (q182's discipline) — float folds
# in any partition order give identical output. Shape: fact scan +
# broadcast day frame -> one brand groupBy.
# ---------------------------------------------------------------------------
@register(
    "q200_decayed_popularity",
    oracle="""
    WITH o AS (
      SELECT l.l_partkey,
             date_diff('day', DATE '1970-01-01', CAST(o.o_orderdate AS DATE)) AS day
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
    g AS (SELECT MAX(day) AS maxd FROM o),
    t AS (
      SELECT p.p_brand,
             CAST(ROUND(exp(-0.05 * (g.maxd - o.day)), 12) AS DECIMAL(20,12)) AS w
      FROM o JOIN part p ON o.l_partkey = p.p_partkey CROSS JOIN g)
    SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_lines,
           ROUND(CAST(SUM(w) AS DOUBLE), 6) AS decayed_score
    FROM t GROUP BY p_brand
    """,
)
def q200_decayed_popularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.datediff(F.col("o_orderdate"), F.lit("1970-01-01")).alias("day")
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    # NOTE(r11): `o` feeds both the latest-day aggregate and the scoring
    # pass, but pinning it with a lazy localCheckpoint measured 1.9 ->
    # 5.3 s at sf0.1: materializing the 600k-row join output costs more
    # than running the (broadcast-joined, scan-fused) subtree twice.
    # Deliberately left as a double evaluation.
    o = li.join(orders, li.l_orderkey == orders.o_orderkey).select("l_partkey", "day")
    g = o.groupBy().agg(F.max("day").alias("maxd"))
    t = (
        o.join(F.broadcast(part), o.l_partkey == part.p_partkey)
        .crossJoin(F.broadcast(g))
        .select(
            "p_brand",
            F.round(F.exp(F.lit(-0.05) * (F.col("maxd") - F.col("day")).cast("double")), 12)
            .cast("decimal(20,12)")
            .alias("w"),
        )
    )
    return t.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.round(F.sum("w").cast("double"), 6).alias("decayed_score"),
    )


# ---------------------------------------------------------------------------
# q201 — ranking agreement between two top-k lists (offline-eval metric
# for any ranker swap): top-50 parts by revenue vs by total quantity —
# overlap@50 (Jaccard of the id sets) and Kendall-style concordant /
# discordant pair counts over the COMMON items (both ranks known). The
# two rankings come from one per-part aggregate (single fact scan);
# the pair comparison is a self-join over the <=50-row common set —
# constant work regardless of corpus size.
# ---------------------------------------------------------------------------
@register(
    "q201_ranking_agreement",
    oracle=f"""
    WITH per_part AS (
      SELECT l_partkey AS partkey,
             {REVENUE_SQL} AS rev,
             SUM({dec_sql("l_quantity")}) AS qty
      FROM lineitem GROUP BY l_partkey),
    ra AS (SELECT partkey, ROW_NUMBER() OVER (ORDER BY rev DESC, partkey ASC) AS r
           FROM per_part QUALIFY r <= 50),
    rb AS (SELECT partkey, ROW_NUMBER() OVER (ORDER BY qty DESC, partkey ASC) AS r
           FROM per_part QUALIFY r <= 50),
    common AS (SELECT ra.partkey, ra.r AS r_rev, rb.r AS r_qty
               FROM ra JOIN rb ON ra.partkey = rb.partkey),
    pairs AS (
      SELECT CASE WHEN (a.r_rev - b.r_rev) * (a.r_qty - b.r_qty) > 0 THEN 1 ELSE 0 END AS conc
      FROM common a JOIN common b ON a.partkey < b.partkey)
    SELECT CAST((SELECT COUNT(*) FROM common) AS BIGINT) AS n_common,
           ROUND(CAST((SELECT COUNT(*) FROM common) AS DOUBLE)
                 / (100 - (SELECT COUNT(*) FROM common)), 6) AS jaccard_at_50,
           CAST(SUM(conc) AS BIGINT) AS concordant,
           CAST(COUNT(*) - SUM(conc) AS BIGINT) AS discordant
    FROM pairs
    """,
)
def q201_ranking_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # both rankings consume this aggregate: pin it so the fact scan +
    # per-part shuffle run once instead of once per ranking branch
    per_part = li.groupBy(F.col("l_partkey").alias("partkey")).agg(
        _revenue().alias("rev"),
        F.sum(dec("l_quantity")).alias("qty"),
    ).localCheckpoint(eager=False)
    ra = per_part.select(
        "partkey", F.row_number().over(Window.orderBy(F.desc("rev"), F.asc("partkey"))).alias("r_rev")
    ).filter(F.col("r_rev") <= 50)
    rb = per_part.select(
        "partkey", F.row_number().over(Window.orderBy(F.desc("qty"), F.asc("partkey"))).alias("r_qty")
    ).filter(F.col("r_qty") <= 50)
    common = ra.join(rb, "partkey")
    a = common.select(F.col("partkey").alias("pa"), F.col("r_rev").alias("ra"), F.col("r_qty").alias("qa"))
    b = common.select(F.col("partkey").alias("pb"), F.col("r_rev").alias("rb"), F.col("r_qty").alias("qb"))
    pairs = a.join(b, F.col("pa") < F.col("pb")).select(
        F.when((F.col("ra") - F.col("rb")) * (F.col("qa") - F.col("qb")) > 0, 1).otherwise(0).alias("conc")
    )
    n_common = common.groupBy().agg(F.count(F.lit(1)).alias("n_common"))
    return (
        pairs.groupBy()
        .agg(F.sum("conc").alias("concordant"), F.count(F.lit(1)).alias("n_pairs"))
        .crossJoin(F.broadcast(n_common))
        .select(
            F.col("n_common").cast("bigint").alias("n_common"),
            F.round(F.col("n_common").cast("double") / (F.lit(100) - F.col("n_common")), 6).alias("jaccard_at_50"),
            F.col("concordant").cast("bigint").alias("concordant"),
            (F.col("n_pairs") - F.col("concordant")).cast("bigint").alias("discordant"),
        )
    )


# ---------------------------------------------------------------------------
# q216 — recommendation coverage & diversity metrics over the q75
# item-item top-3 lists (the offline-eval sibling of q201): catalog
# coverage (share of parts appearing in ANY top-3 list), and for each
# recommending item whether its list crosses brands (intra-list
# diversity via the part dimension). One pass over the q75 output +
# broadcast part dim.
# ---------------------------------------------------------------------------
@register(
    "q216_rec_coverage",
    oracle=f"""
    WITH {BASKET_PAIRS_CTE},
    support AS (SELECT part_a, part_b, COUNT(*) AS sup FROM pairs GROUP BY part_a, part_b),
    pop AS (SELECT part, COUNT(*) AS pop FROM (SELECT DISTINCT l_orderkey, l_partkey AS part FROM lineitem) GROUP BY part),
    sym AS (
      SELECT part_a AS item, part_b AS neigh, sup FROM support
      UNION ALL
      SELECT part_b, part_a, sup FROM support),
    sim AS (
      -- EXACTLY q75's scoring: sup >= 2 floor and 4-decimal rounding
      -- BEFORE ranking (rounding changes tie groups, hence top-3 sets)
      SELECT s.item, s.neigh,
             ROUND(CAST(s.sup AS DOUBLE) / sqrt(CAST(pa.pop AS DOUBLE) * CAST(pb.pop AS DOUBLE)), 4) AS sim
      FROM sym s JOIN pop pa ON s.item = pa.part JOIN pop pb ON s.neigh = pb.part
      WHERE s.sup >= 2),
    ranked AS (
      SELECT item, neigh, sim,
             ROW_NUMBER() OVER (PARTITION BY item ORDER BY sim DESC, neigh ASC) AS rn
      FROM sim),
    topk AS (SELECT item, neigh FROM ranked WHERE rn <= 3),
    nparts AS (SELECT COUNT(*) AS n_parts FROM part),
    cov AS (SELECT COUNT(DISTINCT neigh) AS n_recommended FROM topk),
    div AS (
      SELECT t.item, COUNT(DISTINCT p.p_brand) AS n_brands
      FROM topk t JOIN part p ON t.neigh = p.p_partkey GROUP BY t.item)
    SELECT CAST(np.n_parts AS BIGINT) AS n_parts,
           CAST(c.n_recommended AS BIGINT) AS n_recommended,
           ROUND(CAST(c.n_recommended AS DOUBLE) / np.n_parts, 6) AS catalog_coverage,
           CAST((SELECT COUNT(*) FROM div) AS BIGINT) AS n_items_with_recs,
           ROUND(CAST((SELECT SUM(CASE WHEN n_brands > 1 THEN 1 ELSE 0 END) FROM div) AS DOUBLE)
                 / (SELECT COUNT(*) FROM div), 6) AS cross_brand_rate
    FROM nparts np CROSS JOIN cov c
    """,
)
def q216_rec_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:

    # two consumers (coverage + diversity) replay the q75 pipeline; a
    # lazy-checkpoint pin was MEASURED SLOWER here (3.61 vs 2.93 s at
    # sf0.1): the two replayed subtrees run as parallel stages inside
    # one job, while the pin serializes materialize-then-consume (the
    # q200 lesson from batch 1). Left as a deliberate double evaluation.
    topk = q75_item_item_similarity(spark, sf_dir).select("item", "neigh")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    nparts = part.groupBy().agg(F.count(F.lit(1)).alias("n_parts"))
    cov = topk.groupBy().agg(F.countDistinct("neigh").alias("n_recommended"))
    div = (
        topk.join(F.broadcast(part), topk.neigh == part.p_partkey)
        .groupBy("item")
        .agg(F.countDistinct("p_brand").alias("n_brands"))
    )
    divagg = div.groupBy().agg(
        F.count(F.lit(1)).alias("n_items_with_recs"),
        F.sum(F.when(F.col("n_brands") > 1, 1).otherwise(0)).alias("n_cross"),
    )
    return (
        nparts.crossJoin(F.broadcast(cov))
        .crossJoin(F.broadcast(divagg))
        .select(
            F.col("n_parts").cast("bigint").alias("n_parts"),
            F.col("n_recommended").cast("bigint").alias("n_recommended"),
            F.round(F.col("n_recommended").cast("double") / F.col("n_parts"), 6).alias("catalog_coverage"),
            F.col("n_items_with_recs").cast("bigint").alias("n_items_with_recs"),
            F.round(F.col("n_cross").cast("double") / F.col("n_items_with_recs"), 6).alias("cross_brand_rate"),
        )
    )


# ---------------------------------------------------------------------------
# q224 — weekly rank movers (the "movers & shakers" board): brand
# revenue ranks in the last calendar week vs the week before (integer
# epoch weeks, q164's axis), with rank delta and new-entrant flags.
# Two week-sliced aggregates from ONE scan (conditional aggregation on
# the pre-computed last/prior week broadcast), rank windows over the
# tiny brand rollup, full-outer joined on brand.
# ---------------------------------------------------------------------------
@register(
    "q224_rank_movers",
    oracle=f"""
    WITH base AS (
      SELECT p.p_brand AS brand,
             CAST(floor(floor(epoch(o.o_orderdate)) / 604800) AS BIGINT) AS wk,
             {dec_sql("l.l_extendedprice")}
               * ({dec_sql("1")} - {dec_sql("l.l_discount")}) AS rev
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
                      JOIN part p ON l.l_partkey = p.p_partkey),
    mx AS (SELECT MAX(wk) AS w1 FROM base),
    cur AS (
      SELECT brand, SUM(rev) AS rev FROM base CROSS JOIN mx
      WHERE wk = mx.w1 GROUP BY brand),
    prv AS (
      SELECT brand, SUM(rev) AS rev FROM base CROSS JOIN mx
      WHERE wk = mx.w1 - 1 GROUP BY brand),
    rc AS (SELECT brand, ROW_NUMBER() OVER (ORDER BY rev DESC, brand ASC) AS r FROM cur),
    rp AS (SELECT brand, ROW_NUMBER() OVER (ORDER BY rev DESC, brand ASC) AS r FROM prv)
    SELECT COALESCE(rc.brand, rp.brand) AS brand,
           CAST(rc.r AS INT) AS rank_now,
           CAST(rp.r AS INT) AS rank_prev,
           CAST(rp.r - rc.r AS INT) AS rank_gain,
           (rc.brand IS NOT NULL AND rp.brand IS NULL) AS is_new,
           (rc.brand IS NULL AND rp.brand IS NOT NULL) AS dropped_out
    FROM rc FULL OUTER JOIN rp ON rc.brand = rp.brand
    """,
)
def q224_rank_movers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    # o_orderdate is TIMESTAMP_NTZ: pure NTZ arithmetic (readers.py lesson)
    micros = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', o_orderdate)"
    )
    wk = F.floor(F.floor(micros / F.lit(1000000)) / 604800).cast("bigint")
    base = (
        li.join(orders.select("o_orderkey", "o_orderdate"), li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(part.select("p_partkey", "p_brand")), li.l_partkey == part.p_partkey)
        .select(
            F.col("p_brand").alias("brand"),
            wk.alias("wk"),
            (dec("l_extendedprice") * (dec(F.lit(1)) - dec("l_discount"))).alias("rev"),
        )
    )
    mx = base.groupBy().agg(F.max("wk").alias("w1"))
    with_w = base.crossJoin(F.broadcast(mx))
    cur = with_w.filter(F.col("wk") == F.col("w1")).groupBy("brand").agg(F.sum("rev").alias("rev"))
    prv = with_w.filter(F.col("wk") == F.col("w1") - 1).groupBy("brand").agg(F.sum("rev").alias("rev"))
    rc = cur.select("brand", F.row_number().over(Window.orderBy(F.desc("rev"), F.asc("brand"))).alias("r_now"))
    rp = prv.select(F.col("brand").alias("brand_p"), F.row_number().over(Window.orderBy(F.desc("rev"), F.asc("brand"))).alias("r_prev"))
    j = rc.join(rp, rc.brand == rp.brand_p, "full_outer")
    return j.select(
        F.coalesce(F.col("brand"), F.col("brand_p")).alias("brand"),
        F.col("r_now").cast("int").alias("rank_now"),
        F.col("r_prev").cast("int").alias("rank_prev"),
        (F.col("r_prev") - F.col("r_now")).cast("int").alias("rank_gain"),
        (F.col("brand").isNotNull() & F.col("brand_p").isNull()).alias("is_new"),
        (F.col("brand").isNull() & F.col("brand_p").isNotNull()).alias("dropped_out"),
    )


# ---------------------------------------------------------------------------
# q226 — effective catalog size (inverse-Simpson diversity 1/sum(p^2)
# over part revenue shares — "how many parts does the business
# effectively sell"): each share-squared term is rounded to
# DECIMAL(20,12) and decimal-summed (q182's fold-order discipline).
# One per-part aggregate + a 1-row reduction.
# ---------------------------------------------------------------------------
@register(
    "q226_effective_catalog",
    oracle=f"""
    WITH per_part AS (
      SELECT l_partkey,
             {REVENUE_SQL} AS rev
      FROM lineitem GROUP BY l_partkey),
    tot AS (SELECT SUM(rev) AS total, COUNT(*) AS n_parts FROM per_part),
    t AS (
      SELECT CAST(ROUND((CAST(rev AS DOUBLE) / CAST(tot.total AS DOUBLE))
                        * (CAST(rev AS DOUBLE) / CAST(tot.total AS DOUBLE)), 12)
                  AS DECIMAL(20,12)) AS p2,
             tot.n_parts
      FROM per_part CROSS JOIN tot)
    SELECT CAST(MAX(n_parts) AS BIGINT) AS n_parts,
           ROUND(1.0 / CAST(SUM(p2) AS DOUBLE), 4) AS effective_parts,
           ROUND((1.0 / CAST(SUM(p2) AS DOUBLE)) / MAX(n_parts), 6) AS effective_share
    FROM t
    """,
)
def q226_effective_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(_revenue().alias("rev"))
    tot = per_part.groupBy().agg(F.sum("rev").alias("total"), F.count(F.lit(1)).alias("n_parts"))
    share = F.col("rev").cast("double") / F.col("total").cast("double")
    t = per_part.crossJoin(F.broadcast(tot)).select(
        F.round(share * share, 12).cast("decimal(20,12)").alias("p2"), "n_parts"
    )
    return t.groupBy().agg(
        F.max("n_parts").cast("bigint").alias("n_parts"),
        F.round(F.lit(1.0) / F.sum("p2").cast("double"), 4).alias("effective_parts"),
        F.round((F.lit(1.0) / F.sum("p2").cast("double")) / F.max("n_parts"), 6).alias("effective_share"),
    )


# ---------------------------------------------------------------------------
# q228 — basket-size distribution (merchandising staple): lines per
# order bucketed (1,2,3-4,5-8,9+), with order counts and the
# exact-decimal average order value per bucket. Two key-partitioned
# aggregates (order rollup, then bucket rollup).
# ---------------------------------------------------------------------------
@register(
    "q228_basket_sizes",
    oracle=f"""
    WITH per_order AS (
      SELECT l_orderkey, COUNT(*) AS n_lines,
             SUM({dec_sql("l_extendedprice")}) AS gross
      FROM lineitem GROUP BY l_orderkey),
    b AS (
      SELECT CASE WHEN n_lines = 1 THEN '1' WHEN n_lines = 2 THEN '2'
                  WHEN n_lines <= 4 THEN '3-4' WHEN n_lines <= 8 THEN '5-8'
                  ELSE '9+' END AS bucket,
             n_lines, gross
      FROM per_order),
    t AS (SELECT COUNT(*) AS total FROM b)
    SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(CAST(COUNT(*) AS DOUBLE) / t.total, 6) AS order_share,
           ROUND(CAST(SUM(gross) AS DOUBLE) / COUNT(*), 2) AS avg_order_value
    FROM b CROSS JOIN t GROUP BY bucket, t.total
    """,
)
def q228_basket_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(dec("l_extendedprice")).alias("gross"),
    )
    bucket = (
        F.when(F.col("n_lines") == 1, "1")
        .when(F.col("n_lines") == 2, "2")
        .when(F.col("n_lines") <= 4, "3-4")
        .when(F.col("n_lines") <= 8, "5-8")
        .otherwise("9+")
    )
    b = per_order.select(bucket.alias("bucket"), "gross")
    t = b.groupBy().agg(F.count(F.lit(1)).alias("total"))
    return (
        b.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_orders"), F.sum("gross").alias("gross"))
        .crossJoin(F.broadcast(t))
        .select(
            "bucket",
            F.col("n_orders").cast("bigint").alias("n_orders"),
            F.round(F.col("n_orders").cast("double") / F.col("total"), 6).alias("order_share"),
            F.round(F.col("gross").cast("double") / F.col("n_orders"), 2).alias("avg_order_value"),
        )
    )


# ---------------------------------------------------------------------------
# q232 — recommender popularity bias (does q75's item-item top-3 just
# recommend bestsellers?): average popularity PERCENTILE of recommended
# items vs 0.5 for a popularity-neutral ranker, plus the tail share
# (recs from the bottom half of the catalog). Popularity percentile =
# rank over the per-part order counts; the q75 lists join against it
# broadcast. The percentile terms are rounded-decimal summed (q182).
# ---------------------------------------------------------------------------
@register(
    "q232_popularity_bias",
    oracle=f"""
    WITH {BASKETS_CTE},
    prs AS (
      SELECT p1.part AS part_a, p2.part AS part_b
      FROM baskets, UNNEST(parts) AS p1(part), UNNEST(parts) AS p2(part)
      WHERE p1.part < p2.part),
    support AS (SELECT part_a, part_b, COUNT(*) AS sup FROM prs GROUP BY part_a, part_b),
    pop AS (SELECT part, COUNT(*) AS pop FROM (SELECT DISTINCT l_orderkey, l_partkey AS part FROM lineitem) GROUP BY part),
    sym AS (
      SELECT part_a AS item, part_b AS neigh, sup FROM support
      UNION ALL
      SELECT part_b, part_a, sup FROM support),
    scored AS (
      SELECT s.item, s.neigh,
             ROUND(CAST(s.sup AS DOUBLE) / sqrt(CAST(pa.pop AS DOUBLE) * CAST(pb.pop AS DOUBLE)), 4) AS sim
      FROM sym s JOIN pop pa ON pa.part = s.item JOIN pop pb ON pb.part = s.neigh
      WHERE s.sup >= 2),
    ranked AS (
      SELECT item, neigh, sim,
             ROW_NUMBER() OVER (PARTITION BY item ORDER BY sim DESC, neigh ASC) AS rn
      FROM scored),
    topk AS (SELECT neigh AS part FROM ranked WHERE rn <= 3),
    np AS (SELECT COUNT(*) AS n_parts FROM pop),
    pct AS (
      SELECT part,
             CAST(ROW_NUMBER() OVER (ORDER BY pop ASC, part ASC) AS DOUBLE) / np.n_parts AS pop_pct
      FROM pop CROSS JOIN np),
    t AS (
      SELECT CAST(ROUND(pct.pop_pct, 12) AS DECIMAL(20,12)) AS p,
             CASE WHEN pct.pop_pct <= 0.5 THEN 1 ELSE 0 END AS tail
      FROM topk JOIN pct ON topk.part = pct.part)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_recs,
           ROUND(CAST(SUM(p) AS DOUBLE) / COUNT(*), 6) AS mean_pop_percentile,
           ROUND(CAST(SUM(tail) AS DOUBLE) / COUNT(*), 6) AS tail_half_share
    FROM t
    """,
)
def q232_popularity_bias(spark: SparkSession, sf_dir: str) -> DataFrame:

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pop = (
        li.select("l_orderkey", F.col("l_partkey").alias("part")).distinct()
        .groupBy("part")
        .agg(F.count(F.lit(1)).alias("pop"))
    )
    w = Window.orderBy(F.asc("pop"), F.asc("part"))
    n_parts = pop.groupBy().agg(F.count(F.lit(1)).alias("n_parts"))
    pct = pop.select(
        "part", F.row_number().over(w).alias("r")
    ).crossJoin(F.broadcast(n_parts)).select(
        "part", (F.col("r").cast("double") / F.col("n_parts")).alias("pop_pct")
    )
    recs = q75_item_item_similarity(spark, sf_dir).select(F.col("neigh").alias("part"))
    t = recs.join(F.broadcast(pct), "part").select(
        F.round(F.col("pop_pct"), 12).cast("decimal(20,12)").alias("p"),
        F.when(F.col("pop_pct") <= 0.5, 1).otherwise(0).alias("tail"),
    )
    return t.groupBy().agg(
        F.count(F.lit(1)).cast("bigint").alias("n_recs"),
        F.round(F.sum("p").cast("double") / F.count(F.lit(1)), 6).alias("mean_pop_percentile"),
        F.round(F.sum("tail").cast("double") / F.count(F.lit(1)), 6).alias("tail_half_share"),
    )


# ---------------------------------------------------------------------------
# q260 — NDCG@10 ranking evaluation (the offline metric a recommender
# like the reference's ALS pipeline is judged by): per customer, a
# DETERMINISTIC model stand-in ranks purchased parts by
# md5(cust|part) (portable hash discipline), relevance is the exact
# total quantity purchased (integer-valued, BIGINT — no FP drift), and
# NDCG@10 = DCG(predicted order) / DCG(ideal order) with the standard
# rel/log2(rank+1) discount. Per-segment means use the repo's
# order-independence protocol twice: per-customer DCGs left-fold in rank
# order (<=10 terms), per-segment means sum round-6 NDCGs as
# DECIMAL(18,6) — both engines reduce in identical order at any
# parallelism.
#
# Shape: one (cust, part) shuffle for relevance, two fine-grained
# windows over it (predicted + ideal rank — per-customer partitions,
# skew-free, WindowGroupLimit cuts at 10), one shuffle-join to customer
# for the segment, one final 5-row aggregate.
# ---------------------------------------------------------------------------
_NDCG_K = 10
# 1/log2(rank+1) discounts computed ONCE in Python and embedded as the
# same literals in both engines — SQL-side log2() would go through
# DuckDB's libm, not guaranteed bit-identical to the JVM's (1-ulp
# variance could flip a round-6 knife-edge at some scale factor).
_NDCG_DISCOUNTS = tuple(1.0 / __import__("math").log2(r + 1) for r in range(1, _NDCG_K + 1))


def _ndcg_discount_sql(rn: str) -> str:
    whens = " ".join(
        f"WHEN {r} THEN {d!r}" for r, d in enumerate(_NDCG_DISCOUNTS, start=1)
    )
    return f"(CASE {rn} {whens} ELSE 0.0 END)"


@register(
    "q260_ndcg_eval",
    oracle=f"""
    WITH rel AS (
      SELECT o.o_custkey AS c, l.l_partkey AS p,
             CAST(SUM(l.l_quantity) AS BIGINT) AS rel
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      GROUP BY c, p),
    ranked AS (
      SELECT c, p, rel,
             ROW_NUMBER() OVER (PARTITION BY c
               ORDER BY md5(CAST(c AS VARCHAR) || '|' || CAST(p AS VARCHAR)), p) AS rn_pred,
             ROW_NUMBER() OVER (PARTITION BY c ORDER BY rel DESC, p) AS rn_ideal
      FROM rel),
    dcg AS (
      SELECT c,
             list_reduce(list_prepend(0.0, list(CAST(rel AS DOUBLE) * {_ndcg_discount_sql("rn_pred")}
               ORDER BY rn_pred)),
               (x, y) -> x + y) AS dcg,
             list_reduce(list_prepend(0.0, list(CAST(rel AS DOUBLE) * {_ndcg_discount_sql("rn_ideal")}
               ORDER BY rn_ideal)),
               (x, y) -> x + y) AS idcg
      FROM ranked GROUP BY c),
    per_cust AS (
      SELECT c, CAST(ROUND(dcg / idcg, 6) AS DECIMAL(18,6)) AS ndcg FROM dcg),
    seg AS (
      SELECT cu.c_mktsegment, per_cust.ndcg
      FROM per_cust JOIN customer cu ON per_cust.c = cu.c_custkey)
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           ROUND(CAST(SUM(ndcg) AS DOUBLE) / COUNT(*), 4) AS mean_ndcg
    FROM seg GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
)
def q260_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = _NDCG_K
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey", "l_quantity")
    rel = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .agg(F.sum("l_quantity").cast("bigint").alias("rel"))
    )
    w_pred = Window.partitionBy("c").orderBy(
        F.md5(F.concat(F.col("c").cast("string"), F.lit("|"), F.col("p").cast("string"))),
        F.col("p"),
    )
    w_ideal = Window.partitionBy("c").orderBy(F.desc("rel"), F.asc("p"))
    ranked = rel.withColumn("rn_pred", F.row_number().over(w_pred)).withColumn(
        "rn_ideal", F.row_number().over(w_ideal)
    )
    discounts = F.array(*[F.lit(d) for d in _NDCG_DISCOUNTS])
    c_pred = F.when(
        F.col("rn_pred") <= k,
        F.col("rel").cast("double") * F.element_at(discounts, F.col("rn_pred").cast("int")),
    ).otherwise(F.lit(0.0))
    c_ideal = F.when(
        F.col("rn_ideal") <= k,
        F.col("rel").cast("double") * F.element_at(discounts, F.col("rn_ideal").cast("int")),
    ).otherwise(F.lit(0.0))
    dcg = ranked.groupBy("c").agg(
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("rn_pred").alias("rn"), c_pred.alias("v")))),
                lambda s: s["v"],
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ).alias("dcg"),
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("rn_ideal").alias("rn"), c_ideal.alias("v")))),
                lambda s: s["v"],
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ).alias("idcg"),
    )
    per_cust = dcg.select(
        "c", F.round(F.col("dcg") / F.col("idcg"), 6).cast("decimal(18,6)").alias("ndcg")
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return (
        per_cust.join(cust, per_cust.c == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.round(
                F.sum("ndcg").cast("double") / F.count(F.lit(1)), 4
            ).alias("mean_ndcg"),
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# q279 — deterministic negative sampling for implicit-feedback training
# (the BPR / two-tower data-prep step the ALS pipeline feeds): for every
# user, draw K catalog items the user has NOT interacted with. The
# sampler is hash-based — candidate j of a user is item
# md5_32(user|j) % |catalog| + 1 — so the draw is reproducible across
# runs, engines, and partitionings (no RNG state), and over-drawing
# K*3 candidates absorbs positive-collision and duplicate-draw loss.
# Per user: dedup candidates (keep the earliest draw of an item),
# anti-join the positives, keep the first K surviving draws in draw
# order.
#
# Shape (100 TB): candidate generation is scan-local (sequence explode
# off the distinct-user frame — K*3 rows per user); the anti-join
# shuffles on (user, item), exactly the positives' natural key; no
# per-user catalog scan, no cross join, no RNG skew. Relies on the
# catalog's dense 1..M item ids (p_partkey); with sparse ids you'd
# hash-mod a dense id map (q207) first.
# ---------------------------------------------------------------------------
_NEG_K = 5
_NEG_DRAWS = 15  # K * 3 over-draw


@register(
    "q279_negative_sampling",
    oracle=f"""
    WITH pos AS (SELECT DISTINCT o.o_custkey AS user_id, l.l_partkey AS item
                 FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
    mx AS (SELECT MAX(p_partkey) AS m FROM part),
    users AS (SELECT DISTINCT o_custkey AS user_id FROM orders),
    cand AS (SELECT user_id, u.j,
                    ({md5_hex_int_sql("CAST(user_id AS VARCHAR) || '|' || CAST(u.j AS VARCHAR)", 8)}
                     % (SELECT m FROM mx)) + 1 AS item
             FROM users, UNNEST(range(0, {_NEG_DRAWS})) AS u(j)),
    neg AS (SELECT c.user_id, c.item, MIN(c.j) AS j
            FROM cand c LEFT JOIN pos p
              ON c.user_id = p.user_id AND c.item = p.item
            WHERE p.user_id IS NULL GROUP BY c.user_id, c.item),
    r AS (SELECT user_id, item,
                 ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY j, item) AS rn
          FROM neg)
    SELECT user_id, CAST(rn AS BIGINT) AS rn, CAST(item AS BIGINT) AS neg_item
    FROM r WHERE rn <= {_NEG_K} ORDER BY user_id, rn
    """,
)
def q279_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    pos = (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .select(F.col("o_custkey").alias("user_id"), F.col("l_partkey").alias("item"))
        .distinct()
    )
    mx = part.agg(F.max("p_partkey").alias("m"))
    users = orders.select(F.col("o_custkey").alias("user_id")).distinct()
    cand = (
        users.crossJoin(F.broadcast(mx))
        .select(
            "user_id",
            "m",
            F.explode(F.sequence(F.lit(0), F.lit(_NEG_DRAWS - 1))).alias("j"),
        )
        .select(
            "user_id",
            "j",
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws(
                                "|",
                                F.col("user_id").cast("string"),
                                F.col("j").cast("string"),
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long")
                % F.col("m")
                + 1
            ).alias("item"),
        )
    )
    neg = (
        cand.join(pos, ["user_id", "item"], "left_anti")
        .groupBy("user_id", "item")
        .agg(F.min("j").alias("j"))
    )
    w = Window.partitionBy("user_id").orderBy("j", "item")
    return (
        neg.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= _NEG_K)
        .select("user_id", "rn", F.col("item").cast("bigint").alias("neg_item"))
        .orderBy("user_id", "rn")
    )


# ---------------------------------------------------------------------------
# q300 — ES `frequent_item_sets` aggregation (Apriori-flavored): the
# size-2 AND size-3 itemsets of parts co-occurring in one order, with
# support >= 2 orders. q169 covers pair association rules; this is the
# general k-itemset surface ES 8 ships.
#
# Shape (100 TB): candidate generation is ORDER-LOCAL and JOIN-FREE —
# one collect_set shuffle builds the per-order sorted item array
# (bounded ~7 items in TPC-H-shaped data, so C(7,3) combos max per
# order), then nested array transforms emit the k-combinations
# row-locally and one map-combinable count shuffle per itemset size
# finishes. The naive 3-way self-join plan costs 8 shuffles; this is 3.
# ---------------------------------------------------------------------------
@register(
    "q300_frequent_item_sets",
    oracle="""
    WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    p2 AS (
      SELECT CAST(2 AS BIGINT) AS k,
             CAST(a.l_partkey AS VARCHAR) || ',' || CAST(b.l_partkey AS VARCHAR)
               AS items,
             CAST(COUNT(*) AS BIGINT) AS support
      FROM d a JOIN d b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 2 HAVING COUNT(*) >= 2),
    p3 AS (
      SELECT CAST(3 AS BIGINT) AS k,
             CAST(a.l_partkey AS VARCHAR) || ',' || CAST(b.l_partkey AS VARCHAR)
               || ',' || CAST(c.l_partkey AS VARCHAR) AS items,
             CAST(COUNT(*) AS BIGINT) AS support
      FROM d a
      JOIN d b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      JOIN d c ON b.l_orderkey = c.l_orderkey AND b.l_partkey < c.l_partkey
      GROUP BY 2 HAVING COUNT(*) >= 2)
    SELECT * FROM p2 UNION ALL SELECT * FROM p3
    ORDER BY k, support DESC, items
    """,
)
def q300_frequent_item_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # one shuffle: per-order sorted distinct item array (collect_set is
    # order-nondeterministic; array_sort pins it)
    arr = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("arr")
    )
    # k-combinations generated row-locally over the (bounded) array;
    # slice() is 1-based, transform indices 0-based — slice(arr, i+2, n)
    # is exactly the elements strictly after index i.
    combos2 = F.expr(
        "flatten(transform(arr, (x, i) -> transform(slice(arr, i + 2, size(arr)), "
        "y -> concat(cast(x AS string), ',', cast(y AS string)))))"
    )
    combos3 = F.expr(
        "flatten(flatten(transform(arr, (x, i) -> "
        "transform(slice(arr, i + 2, size(arr)), (y, j) -> "
        "transform(slice(arr, i + j + 3, size(arr)), "
        "z -> concat(cast(x AS string), ',', cast(y AS string), ',', "
        "cast(z AS string)))))))"
    )

    # ONE explode + ONE aggregation for both set sizes: a 2-set string
    # ("a,b") and a 3-set string ("a,b,c") can never collide, so counting
    # them in the same groupBy is exact, and k falls out of the comma
    # count afterwards. The previous two-branch union evaluated the
    # per-order array aggregate (the lineitem shuffle) twice and ran two
    # count shuffles (guide §2.4: remove shuffles outright — plan went
    # 5 shuffle exchanges -> 3).
    combined = F.concat(combos2, combos3)
    return (
        arr.select(F.explode(combined).alias("items"))
        .groupBy("items")
        .agg(F.count(F.lit(1)).cast("bigint").alias("support"))
        .filter(F.col("support") >= 2)
        .select(
            (F.size(F.split("items", ",")) ).cast("bigint").alias("k"),
            "items",
            "support",
        )
        .orderBy("k", F.desc("support"), "items")
    )


# ---------------------------------------------------------------------------
# q328 — ES `rank_eval` API: precision@10 and MRR@10 for a panel of
# probe terms, each ranked by term frequency (tf desc, doc_id
# tiebreak) with binary relevance = document language is English.
# ES's precision metric divides by the RETRIEVED count (<= k), and
# MRR is 1/rank of the first relevant hit within the cutoff (0 when
# none) — both mirrored exactly.
#
# Shape (100 TB): a 3x row-local term explode, one shuffle to rank
# per term (WindowGroupLimit caps each partition's sort at k), then a
# 3-row aggregate. Scales with the corpus scan, not with k.
# ---------------------------------------------------------------------------
_RE_TERMS = ("merge", "sort", "scan")
_RE_K = 10


@register(
    "q328_rank_eval",
    oracle=f"""
    WITH hits AS (
      SELECT term, doc_id, lang = 'en' AS rel,
             ROW_NUMBER() OVER (PARTITION BY term
               ORDER BY len(list_filter({TOKS_SQL}, x -> x = term)) DESC,
                        doc_id) AS rank
      FROM documents, (SELECT UNNEST({list(_RE_TERMS)!r}) AS term)
      WHERE len(list_filter({TOKS_SQL}, x -> x = term)) > 0)
    SELECT term,
           CAST(COUNT(*) AS BIGINT) AS n_ret,
           ROUND(CAST(SUM(CASE WHEN rel THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS precision_at_k,
           ROUND(COALESCE(1.0 / MIN(CASE WHEN rel THEN rank END), 0.0), 6)
             AS mrr
    FROM hits WHERE rank <= {_RE_K}
    GROUP BY term ORDER BY term
    """,
)
def q328_rank_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", tokens("text").alias("toks")
    )
    hits = (
        docs.withColumn(
            "term", F.explode(F.array(*[F.lit(t) for t in _RE_TERMS]))
        )
        .withColumn(
            "tf", F.size(F.filter("toks", lambda x: x == F.col("term")))
        )
        .filter(F.col("tf") > 0)
        .withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("term").orderBy(F.desc("tf"), "doc_id")
            ),
        )
        .filter(F.col("rank") <= _RE_K)
        .select("term", (F.col("lang") == "en").alias("rel"), "rank")
    )
    return (
        hits.groupBy("term")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_ret"),
            F.round(
                F.sum(F.when(F.col("rel"), 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("precision_at_k"),
            F.round(
                F.coalesce(
                    F.lit(1.0) / F.min(F.when(F.col("rel"), F.col("rank"))),
                    F.lit(0.0),
                ),
                6,
            ).alias("mrr"),
        )
        .orderBy("term")
    )


# ---------------------------------------------------------------------------
# q394 — Bradley-Terry pairwise-preference strength fit: the reward-
# modeling data-prep stage. Comparisons come from q377's preference
# pairs generalized across sources: adjacent doc_ids (doc_id DIV 2 —
# shuffle-keyed grouping, NO global sort) form a pair, the higher
# type-token-ratio member wins (exact cross-multiplication, ties to the
# lower doc_id); players are the docs' sources, same-source pairs are
# dropped. Strengths follow 3 fixed MM iterations
#     p_i <- W_i / SUM_j n_ij / (p_i + p_j)
# normalized to mean 1 each round, with the standard virtual-opponent
# regularization (one extra win and one extra game against a strength-1
# ghost: p_i <- (W_i + 1) / (denom_i + 1/(p_i + 1))) so zero-win
# players keep strictly positive strength and no denominator can reach
# zero at any scale. Determinism follows q126's discipline exactly:
# per-edge contributions AND per-player updates are rounded to
# DECIMAL(28,10) before any cross-row sum (order-independent),
# remaining scalar math is identically-parenthesized doubles; fixed
# iteration count so the oracle is a plain CTE chain.
#
# Shape (100 TB): comparisons reduce to a per-source-pair count frame
# (players^2 rows — hundreds) before ANY iteration; the 3 iterations
# run entirely on broadcast-size frames, so the big table is touched
# once. The edge list is never shuffled after the initial reduce.
# ---------------------------------------------------------------------------
_BT_ITERS = 3


def _bt_oracle() -> str:
    # Every CTE is MATERIALIZED: DuckDB inlines multiply-referenced CTEs
    # by default, and each iteration references its predecessor ~4 times
    # (pi, pj, pk, and the normalization scalar subquery) — inlined,
    # the evaluation tree re-runs the base tokenization O(4^k) times
    # (measured 18.9 s at sf0.01; materialized, sub-second).
    base = """
    t AS MATERIALIZED (
      SELECT doc_id, source,
             CAST(len({toks}) AS BIGINT) AS n,
             CAST(len(list_distinct({toks})) AS BIGINT) AS nd
      FROM documents),
    pr AS MATERIALIZED (
      SELECT doc_id // 2 AS pk,
             arg_min(source, doc_id) AS src_a, arg_max(source, doc_id) AS src_b,
             arg_min(n, doc_id) AS n_a, arg_max(n, doc_id) AS n_b,
             arg_min(nd, doc_id) AS nd_a, arg_max(nd, doc_id) AS nd_b
      FROM t GROUP BY 1 HAVING COUNT(*) = 2),
    dw AS MATERIALIZED (
      SELECT CASE WHEN nd_a * n_b >= nd_b * n_a THEN src_a ELSE src_b END AS winner,
             CASE WHEN nd_a * n_b >= nd_b * n_a THEN src_b ELSE src_a END AS loser
      FROM pr WHERE src_a <> src_b),
    d AS MATERIALIZED (SELECT winner, loser, CAST(COUNT(*) AS BIGINT) AS w
          FROM dw GROUP BY 1, 2),
    e AS MATERIALIZED (
      SELECT i, j, SUM(n_ij) AS n_ij FROM (
        SELECT winner AS i, loser AS j, w AS n_ij FROM d
        UNION ALL
        SELECT loser AS i, winner AS j, w AS n_ij FROM d) GROUP BY 1, 2),
    wins AS MATERIALIZED (
      SELECT p.i, CAST(COALESCE(SUM(d.w), 0) AS BIGINT) AS w
      FROM (SELECT DISTINCT i FROM e) p
      LEFT JOIN d ON d.winner = p.i GROUP BY 1),
    np AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS np FROM wins),
    games AS MATERIALIZED (SELECT i, CAST(SUM(n_ij) AS BIGINT) AS games FROM e GROUP BY 1),
    p0 AS MATERIALIZED (SELECT i, CAST(1.0 AS DOUBLE) AS p FROM wins)
    """.replace("{toks}", TOKS_SQL)
    iters = []
    for k in range(_BT_ITERS):
        iters.append(f"""
    c{k} AS MATERIALIZED (
      SELECT e.i,
             SUM(CAST(ROUND(e.n_ij / (pi.p + pj.p), 10) AS DECIMAL(28,10)))
               AS denom
      FROM e JOIN p{k} pi ON e.i = pi.i JOIN p{k} pj ON e.j = pj.i
      GROUP BY 1),
    u{k} AS MATERIALIZED (
      SELECT c{k}.i,
             CAST(ROUND((CAST(wins.w AS DOUBLE) + 1.0)
                        / (CAST(denom AS DOUBLE)
                           + ROUND(1.0 / (pk.p + 1.0), 10)), 10)
                  AS DECIMAL(28,10)) AS pu
      FROM c{k} JOIN wins ON wins.i = c{k}.i JOIN p{k} pk ON pk.i = c{k}.i),
    p{k+1} AS MATERIALIZED (
      SELECT i, (CAST(pu AS DOUBLE) * CAST(np.np AS DOUBLE))
                / CAST((SELECT SUM(pu) FROM u{k}) AS DOUBLE) AS p
      FROM u{k} CROSS JOIN np)
    """)
    return (
        "WITH " + base + "," + ",".join(iters)
        + f"""
    SELECT p.i AS source, ROUND(p.p, 6) AS strength,
           wins.w AS wins, games.games AS games
    FROM p{_BT_ITERS} p JOIN wins ON wins.i = p.i JOIN games ON games.i = p.i
    ORDER BY strength DESC, source
    """
    )


@register("q394_bradley_terry", oracle=_bt_oracle())
def q394_bradley_terry(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(tokens("text")).cast("bigint").alias("n"),
        F.size(F.array_distinct(tokens("text"))).cast("bigint").alias("nd"),
    )
    pr = (
        t.groupBy((F.col("doc_id") / 2).cast("bigint").alias("pk"))
        .agg(
            F.min_by("source", "doc_id").alias("src_a"),
            F.max_by("source", "doc_id").alias("src_b"),
            F.min_by("n", "doc_id").alias("n_a"),
            F.max_by("n", "doc_id").alias("n_b"),
            F.min_by("nd", "doc_id").alias("nd_a"),
            F.max_by("nd", "doc_id").alias("nd_b"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .filter(F.col("cnt") == 2)
    )
    a_wins = F.col("nd_a") * F.col("n_b") >= F.col("nd_b") * F.col("n_a")
    dw = pr.filter(F.col("src_a") != F.col("src_b")).select(
        F.when(a_wins, F.col("src_a")).otherwise(F.col("src_b")).alias("winner"),
        F.when(a_wins, F.col("src_b")).otherwise(F.col("src_a")).alias("loser"),
    )
    d = dw.groupBy("winner", "loser").agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    # The directed-win frame is the last time the big table is touched:
    # checkpoint it (players^2 rows at most) so the 3 MM iterations —
    # which reference e/wins/games once per round — never re-derive the
    # corpus scan + tokenization (q126/q237 lineage-truncation pattern;
    # without this the single collect re-runs the heavy agg ~10x).
    d = d.localCheckpoint(eager=True)
    e = (
        d.select(F.col("winner").alias("i"), F.col("loser").alias("j"), F.col("w").alias("n_ij"))
        .unionByName(
            d.select(F.col("loser").alias("i"), F.col("winner").alias("j"), F.col("w").alias("n_ij"))
        )
        .groupBy("i", "j")
        .agg(F.sum("n_ij").alias("n_ij"))
        .localCheckpoint(eager=True)
    )
    players = e.select("i").distinct()
    wins = (
        players.join(F.broadcast(d), players["i"] == d["winner"], "left")
        .groupBy("i")
        .agg(F.coalesce(F.sum("w"), F.lit(0)).cast("bigint").alias("w"))
    )
    games = e.groupBy("i").agg(F.sum("n_ij").cast("bigint").alias("games"))
    np_ = wins.agg(F.count(F.lit(1)).cast("bigint").alias("np"))
    p = wins.select("i", F.lit(1.0).alias("p"))
    for _ in range(_BT_ITERS):
        pi = p.select(F.col("i").alias("pi_i"), F.col("p").alias("pi_p"))
        pj = p.select(F.col("i").alias("pj_i"), F.col("p").alias("pj_p"))
        denom = (
            e.join(F.broadcast(pi), e["i"] == pi["pi_i"])
            .join(F.broadcast(pj), e["j"] == pj["pj_i"])
            .groupBy(e["i"])
            .agg(
                F.sum(
                    F.round(F.col("n_ij") / (F.col("pi_p") + F.col("pj_p")), 10)
                    .cast("decimal(28,10)")
                ).alias("denom")
            )
        )
        pk = p.select(F.col("i"), F.col("p").alias("pk_p"))
        u = (
            denom.join(F.broadcast(wins), "i")
            .join(F.broadcast(pk), "i")
            .select(
                "i",
                F.round(
                    (F.col("w").cast("double") + F.lit(1.0))
                    / (
                        F.col("denom").cast("double")
                        + F.round(F.lit(1.0) / (F.col("pk_p") + F.lit(1.0)), 10)
                    ),
                    10,
                )
                .cast("decimal(28,10)")
                .alias("pu"),
            )
        )
        tot = u.agg(F.sum("pu").alias("sp"))
        # Eager checkpoint per round: the iterate is player-count rows,
        # and truncating here keeps each evaluation a shallow 4-exchange
        # plan instead of one 40-exchange DAG the scheduler re-plans at
        # the end (AQE overhead, not data, dominates at any scale —
        # the frames are broadcast-size by construction).
        p = (
            u.crossJoin(F.broadcast(np_))
            .crossJoin(F.broadcast(tot))
            .select(
                "i",
                (
                    (F.col("pu").cast("double") * F.col("np").cast("double"))
                    / F.col("sp").cast("double")
                ).alias("p"),
            )
            .localCheckpoint(eager=True)
        )
    return (
        p.join(F.broadcast(wins), "i")
        .join(F.broadcast(games), "i")
        .select(
            F.col("i").alias("source"),
            F.round("p", 6).alias("strength"),
            F.col("w").alias("wins"),
            "games",
        )
        .orderBy(F.col("strength").desc(), "source")
    )
