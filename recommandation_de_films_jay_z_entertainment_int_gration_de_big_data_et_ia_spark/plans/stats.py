"""Statistics over the star schema: exact and sketched quantiles,
outliers, distribution shape, concentration, experiment analysis
(CUPED, Welch's t-test, sample-ratio mismatch, bootstrap) and robust
estimators. Float results go through exact DECIMAL sums, then one
deterministic cast and round, so Spark and the DuckDB oracle agree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import dec, dec_sql, exact_sum, exact_sum_sql
from ..functions.text import MD5_SPLIT_BUCKET_SQL, SPLIT_SQL, md5_hex_int_sql, md5_split
from ..sources.readers import load_table
from .catalog import register
from .core import REVENUE_SQL, _revenue


# Bounded oracle: HyperLogLog sketches are engine-specific (Spark HLL++
# vs DuckDB's), so the approximate count itself can't hash-match — but
# its ERROR BOUND can: both sides emit the exact stats plus a boolean
# that the HLL++ estimate lies within 3×rsd (= 6%) of the exact distinct
# count; the oracle asserts the inequality as literal TRUE. HLL++ is
# deterministic for fixed data, so the hash is stable; the raw estimate
# stays observable via operators (and the property test pins the same
# bound).
@register(
    "q55_approx_distinct",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           TRUE AS approx_within_3rsd
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q55_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.count_distinct("l_partkey").cast("bigint").alias("exact_parts"),
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("__approx"),
    )
    rel_err = F.abs(F.col("__approx") - F.col("exact_parts")) / F.col("exact_parts")
    return agg.select(
        "l_returnflag", "n", "exact_parts", (rel_err <= 0.06).alias("approx_within_3rsd")
    )


# ---------------------------------------------------------------------------
# q60 — exact percentiles per group (Spark `percentile` ≡ DuckDB
# `quantile_cont`: both linearly interpolate at p·(n−1))
# ---------------------------------------------------------------------------
@register(
    "q60_percentiles",
    oracle="""
    SELECT o_orderstatus,
           ROUND(quantile_cont(o_totalprice, 0.25), 2) AS p25,
           ROUND(quantile_cont(o_totalprice, 0.50), 2) AS p50,
           ROUND(quantile_cont(o_totalprice, 0.75), 2) AS p75,
           COUNT(*) AS n
    FROM orders GROUP BY o_orderstatus
    """,
)
def q60_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.25)), 2).alias("p25"),
        F.round(F.percentile("o_totalprice", F.lit(0.50)), 2).alias("p50"),
        F.round(F.percentile("o_totalprice", F.lit(0.75)), 2).alias("p75"),
        F.count(F.lit(1)).alias("n"),
    )


# ---------------------------------------------------------------------------
# q71 — per-group z-score outliers. Mean/variance from exact decimal sums
# (order-independent), then identical double math on both engines.
# ---------------------------------------------------------------------------
@register(
    "q71_zscore_outliers",
    oracle=f"""
    WITH stats AS (
      SELECT event_type,
             CAST(COUNT(*) AS DOUBLE) AS n,
             {exact_sum_sql("value")} AS s,
             CAST(SUM({dec_sql("value")} * {dec_sql("value")}) AS DOUBLE) AS sq
      FROM events GROUP BY event_type)
    SELECT e.event_id, e.event_type,
           ROUND((e.value - (s / n)) / sqrt((sq / n) - ((s / n) * (s / n))), 4) AS z
    FROM events e JOIN stats USING (event_type)
    WHERE abs((e.value - (s / n)) / sqrt((sq / n) - ((s / n) * (s / n)))) > 3.0
    """,
)
def q71_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        exact_sum("value").alias("s"),
        F.sum(dec("value") * dec("value")).cast("double").alias("sq"),
    )
    joined = ev.join(F.broadcast(stats), "event_type")
    mean = F.col("s") / F.col("n")
    z = (F.col("value") - mean) / F.sqrt((F.col("sq") / F.col("n")) - (mean * mean))
    return (
        joined.filter(F.abs(z) > 3.0)
        .select("event_id", "event_type", F.round(z, 4).alias("z"))
    )


# ---------------------------------------------------------------------------
# q72 — rank-distribution window functions + a RANGE frame (7-day
# trailing spend per customer)
# ---------------------------------------------------------------------------
@register(
    "q72_rank_distribution",
    oracle=f"""
    SELECT o_custkey, o_orderkey,
           CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
           ROUND(PERCENT_RANK() OVER w, 4) AS pr,
           ROUND(CUME_DIST() OVER w, 4) AS cd,
           ROUND(CAST(SUM({dec_sql("o_totalprice")}) OVER (
             PARTITION BY o_custkey ORDER BY date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
             RANGE BETWEEN 7 PRECEDING AND CURRENT ROW) AS DOUBLE), 2) AS spend_7d
    FROM orders
    WHERE o_custkey <= 50
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice ASC, o_orderkey ASC)
    """,
)
def q72_rank_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 50)
    w = Window.partitionBy("o_custkey").orderBy(F.asc("o_totalprice"), F.asc("o_orderkey"))
    epoch_days = F.datediff(F.col("o_orderdate"), F.lit("1970-01-01"))
    wr = Window.partitionBy("o_custkey").orderBy(epoch_days).rangeBetween(-7, 0)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
        F.round(F.percent_rank().over(w), 4).alias("pr"),
        F.round(F.cume_dist().over(w), 4).alias("cd"),
        F.round(F.sum(dec("o_totalprice")).over(wr).cast("double"), 2).alias("spend_7d"),
    )


# ---------------------------------------------------------------------------
# q116 — robust outliers by median absolute deviation (q71's z-score uses
# mean/stddev, which outliers themselves corrupt; MAD is the robust
# variant every monitoring pipeline keeps alongside). Exact interpolated
# medians (Spark `percentile` == DuckDB `quantile_cont`, both (n-1)
# linear interpolation); deviations and the 3×MAD gate are rounded to
# 6 dp so the boundary decision is cross-engine identical.
#
# Shape (100 TB): two grouped exact-percentile passes (each one shuffle
# on event_type) + a broadcast join of the tiny per-type stats back onto
# the stream. At monitoring cadence swap exact percentile for
# approx_percentile (t-digest) and the second pass becomes mergeable.
# ---------------------------------------------------------------------------
@register(
    "q116_mad_outliers",
    oracle="""
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type),
    dev AS (
      SELECT e.event_type, ROUND(abs(e.value - m.med), 6) AS d
      FROM events e JOIN med m USING (event_type)),
    mad AS (
      SELECT event_type, quantile_cont(d, 0.5) AS mad FROM dev GROUP BY event_type)
    SELECT d.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(*) FILTER (WHERE d.d > ROUND(3 * m.mad, 6)) AS BIGINT) AS n_outliers,
           ROUND(MAX(d.d), 6) AS max_dev
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY d.event_type
    """,
)
def q116_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(F.percentile("value", 0.5).alias("med"))
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", F.round(F.abs(F.col("value") - F.col("med")), 6).alias("d")
    )
    mad = dev.groupBy("event_type").agg(F.percentile("d", 0.5).alias("mad"))
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(
                F.when(F.col("d") > F.round(3 * F.col("mad"), 6), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
            F.round(F.max("d"), 6).alias("max_dev"),
        )
    )


# ---------------------------------------------------------------------------
# q121 — mergeable quantile sketch (KLL): per-priority p50/p90/p99 of
# o_totalprice from kll_sketch_agg. The 100 TB shape for percentiles:
# sketches build in one partial+final pass and MERGE across partitions /
# days / tables (exact percentile does not merge; q60 is the exact
# counterpart). KLL compaction is randomized, so the estimates
# themselves can't hash-match a SQL oracle — but the PUBLISHED rank
# bound can: both sides emit the group's exact stats plus a boolean that
# each sketch estimate's empirical rank (count(v <= est)/n, computed
# Spark-side against the data) sits within ±0.05 of its target quantile
# — 3× the documented ~1.65% rank error of k=200, so the flag is stable
# across compaction randomness; the oracle asserts the inequality as
# literal TRUE. Exact quantiles ride along (quantile_cont ≡ percentile,
# proven by q60) so the hash still covers real values.
# ---------------------------------------------------------------------------
_KLL_EPS = 0.05


@register(
    "q121_kll_quantile_sketch",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(quantile_cont(o_totalprice, 0.50), 2) AS p50_exact,
           ROUND(quantile_cont(o_totalprice, 0.90), 2) AS p90_exact,
           ROUND(quantile_cont(o_totalprice, 0.99), 2) AS p99_exact,
           TRUE AS sketch_rank_ok
    FROM orders GROUP BY o_orderpriority
    """,
)
def q121_kll_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", F.col("o_totalprice").cast("double").alias("v")
    )
    sk = orders.groupBy("o_orderpriority").agg(
        F.kll_sketch_agg_double("v").alias("sk"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.percentile("v", F.lit(0.50)), 2).alias("p50_exact"),
        F.round(F.percentile("v", F.lit(0.90)), 2).alias("p90_exact"),
        F.round(F.percentile("v", F.lit(0.99)), 2).alias("p99_exact"),
    )
    est = sk.select(
        "o_orderpriority",
        "n",
        "p50_exact",
        "p90_exact",
        "p99_exact",
        F.kll_sketch_get_quantile_double(F.col("sk"), F.lit(0.50)).alias("__e50"),
        F.kll_sketch_get_quantile_double(F.col("sk"), F.lit(0.90)).alias("__e90"),
        F.kll_sketch_get_quantile_double(F.col("sk"), F.lit(0.99)).alias("__e99"),
    )
    # empirical rank of each estimate, against the data itself (one
    # extra pass over orders; the estimates broadcast onto it)
    ranks = (
        orders.join(F.broadcast(est.select("o_orderpriority", "__e50", "__e90", "__e99")), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            (F.sum((F.col("v") <= F.col("__e50")).cast("long")) / F.count(F.lit(1))).alias("__r50"),
            (F.sum((F.col("v") <= F.col("__e90")).cast("long")) / F.count(F.lit(1))).alias("__r90"),
            (F.sum((F.col("v") <= F.col("__e99")).cast("long")) / F.count(F.lit(1))).alias("__r99"),
        )
    )
    ok = (
        (F.abs(F.col("__r50") - 0.50) <= _KLL_EPS)
        & (F.abs(F.col("__r90") - 0.90) <= _KLL_EPS)
        & (F.abs(F.col("__r99") - 0.99) <= _KLL_EPS)
    )
    return (
        est.join(F.broadcast(ranks), "o_orderpriority")
        .select(
            "o_orderpriority", "n", "p50_exact", "p90_exact", "p99_exact",
            ok.alias("sketch_rank_ok"),
        )
    )


# ---------------------------------------------------------------------------
# q125 — theta-sketch set algebra: distinct users per event_type as
# mergeable theta sketches, then UNION / INTERSECTION / DIFFERENCE
# estimates across types — the sketch family's answer to "overlap of
# audiences" without re-scanning (HLL q55 gives only distinct counts;
# theta adds set operations). Below the sketch's nominal-entries bound
# (2^12 = 4096) theta runs in exact mode, so at the driver's correctness
# scale (sf0.01, ~1k distinct users) every estimate equals the exact
# count and the query carries a full DuckDB oracle; the rank-error
# property at arbitrary scale is separately asserted in
# tests/test_properties.py.
# ---------------------------------------------------------------------------
@register(
    "q125_theta_set_ops",
    oracle="""
    SELECT 'view_users' AS set_name,
           CAST((SELECT COUNT(DISTINCT user_id) FROM events WHERE event_type = 'view') AS BIGINT) AS est
    UNION ALL
    SELECT 'click_users',
           CAST((SELECT COUNT(DISTINCT user_id) FROM events WHERE event_type = 'click') AS BIGINT)
    UNION ALL
    SELECT 'view_or_click',
           CAST((SELECT COUNT(DISTINCT user_id) FROM events
                 WHERE event_type IN ('view', 'click')) AS BIGINT)
    UNION ALL
    SELECT 'view_and_click',
           CAST((SELECT COUNT(*) FROM (
              SELECT DISTINCT user_id FROM events WHERE event_type = 'view'
              INTERSECT
              SELECT DISTINCT user_id FROM events WHERE event_type = 'click')) AS BIGINT)
    UNION ALL
    SELECT 'view_not_click',
           CAST((SELECT COUNT(*) FROM (
              SELECT DISTINCT user_id FROM events WHERE event_type = 'view'
              EXCEPT
              SELECT DISTINCT user_id FROM events WHERE event_type = 'click')) AS BIGINT)
    """,
)
def q125_theta_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    sk = (
        ev.filter(F.col("event_type").isin("view", "click"))
        .groupBy("event_type")
        .agg(F.expr("theta_sketch_agg(user_id)").alias("sk"))
    )
    one = sk.groupBy().pivot("event_type", ["view", "click"]).agg(F.first("sk"))
    return one.selectExpr(
        """stack(5,
           'view_users',     CAST(theta_sketch_estimate(view) AS BIGINT),
           'click_users',    CAST(theta_sketch_estimate(click) AS BIGINT),
           'view_or_click',  CAST(theta_sketch_estimate(theta_union(view, click)) AS BIGINT),
           'view_and_click', CAST(theta_sketch_estimate(theta_intersection(view, click)) AS BIGINT),
           'view_not_click', CAST(theta_sketch_estimate(theta_difference(view, click)) AS BIGINT)
        ) AS (set_name, est)"""
    )


# ---------------------------------------------------------------------------
# q139 — CUPED variance reduction for experiment metrics (the standard
# pre-experiment-covariate adjustment): per user, x = pre-period metric
# (sum of 'view' values), y = experiment metric (sum of 'purchase'
# values); per synthetic arm (user_id % 2), theta = cov(x,y)/var(x) from
# EXACT decimal moment sums (q131's discipline: 6-rounded decimal
# values, integer×decimal products — order-independent, bit-identical
# across engines), then var(y - theta·(x - x̄)) and the achieved
# reduction, all derived from the same six sums with identical
# parenthesization in both engines. One shuffle on user_id, one on arm.
# ---------------------------------------------------------------------------
@register(
    "q139_cuped_adjustment",
    oracle="""
    WITH u AS (
      SELECT user_id,
             SUM(CASE WHEN event_type = 'view'
                 THEN CAST(ROUND(value, 6) AS DECIMAL(18,6)) END) AS x,
             SUM(CASE WHEN event_type = 'purchase'
                 THEN CAST(ROUND(value, 6) AS DECIMAL(18,6)) END) AS y
      FROM events GROUP BY user_id),
    p AS (SELECT user_id % 2 AS arm, x, y FROM u
          WHERE x IS NOT NULL AND y IS NOT NULL),
    s AS (SELECT arm, COUNT(*) AS n,
                 SUM(x) AS sx, SUM(y) AS sy,
                 SUM(x * x) AS sxx, SUM(x * y) AS sxy, SUM(y * y) AS syy
          FROM p GROUP BY arm),
    t AS (SELECT arm, CAST(n AS BIGINT) AS n,
                 CAST(n AS DOUBLE) AS nd,
                 CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
                 CAST(sxx AS DOUBLE) AS sxxd, CAST(sxy AS DOUBLE) AS sxyd,
                 CAST(syy AS DOUBLE) AS syyd,
                 (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS theta
          FROM s)
    SELECT arm, n,
           ROUND(syd / nd, 6) AS mean_y,
           ROUND((syyd / nd) - (syd / nd) * (syd / nd), 8) AS var_y,
           ROUND(((syyd - 2 * theta * sxyd + theta * theta * sxxd) / nd)
                 - ((syd - theta * sxd) / nd) * ((syd - theta * sxd) / nd), 8) AS var_cuped,
           ROUND(theta, 8) AS theta
    FROM t
    """,
)
def q139_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    dec = lambda c: F.round(c, 6).cast("decimal(18,6)")  # noqa: E731
    u = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "view", dec(F.col("value")))).alias("x"),
        F.sum(F.when(F.col("event_type") == "purchase", dec(F.col("value")))).alias("y"),
    )
    p = u.filter(F.col("x").isNotNull() & F.col("y").isNotNull()).select(
        (F.col("user_id") % 2).alias("arm"), "x", "y"
    )
    s = p.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    nd = F.col("n").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxxd, sxyd, syyd = (
        F.col("sxx").cast("double"),
        F.col("sxy").cast("double"),
        F.col("syy").cast("double"),
    )
    t = s.select(
        "arm",
        F.col("n").cast("bigint").alias("n"),
        nd.alias("nd"),
        sxd.alias("sxd"),
        syd.alias("syd"),
        sxxd.alias("sxxd"),
        sxyd.alias("sxyd"),
        syyd.alias("syyd"),
        ((nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd)).alias("theta"),
    )
    th = F.col("theta")
    return t.select(
        "arm",
        "n",
        F.round(F.col("syd") / F.col("nd"), 6).alias("mean_y"),
        F.round(
            (F.col("syyd") / F.col("nd"))
            - (F.col("syd") / F.col("nd")) * (F.col("syd") / F.col("nd")),
            8,
        ).alias("var_y"),
        F.round(
            ((F.col("syyd") - 2 * th * F.col("sxyd") + th * th * F.col("sxxd")) / F.col("nd"))
            - ((F.col("syd") - th * F.col("sxd")) / F.col("nd"))
            * ((F.col("syd") - th * F.col("sxd")) / F.col("nd")),
            8,
        ).alias("var_cuped"),
        F.round(th, 8).alias("theta"),
    )


# ---------------------------------------------------------------------------
# q160 — approx percentile with a bounded oracle (q55's discipline for
# the quantile family): Spark's approx_percentile is a deterministic
# t-digest-style sketch whose estimate can't hash-match DuckDB's exact
# quantile, but its RANK ERROR can be gated. Both engines emit exact
# grouped stats plus a boolean that the approximate p50/p95 each fall
# within the exact p45–p55 / p90–p99 bands (±0.05 rank, 5000× the
# documented accuracy=10000 bound — generous, so the gate is stable,
# not lucky). At 100 TB this is the mergeable one-pass quantile path;
# the exact interpolated percentile (q60) is the two-pass audit.
# ---------------------------------------------------------------------------
@register(
    "q160_approx_percentile_bounded",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(quantile_cont(value, 0.5), 6) AS exact_p50,
           ROUND(quantile_cont(value, 0.95), 6) AS exact_p95,
           TRUE AS p50_in_band, TRUE AS p95_in_band
    FROM events GROUP BY event_type
    """,
)
def q160_approx_percentile_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.expr("percentile(value, 0.5)").alias("__e50"),
        F.expr("percentile(value, 0.95)").alias("__e95"),
        F.expr("percentile(value, 0.45)").alias("__lo50"),
        F.expr("percentile(value, 0.55)").alias("__hi50"),
        F.expr("percentile(value, 0.90)").alias("__lo95"),
        F.expr("percentile(value, 0.99)").alias("__hi95"),
        F.expr("approx_percentile(value, 0.5, 10000)").alias("__a50"),
        F.expr("approx_percentile(value, 0.95, 10000)").alias("__a95"),
    )
    return agg.select(
        "event_type",
        "n",
        F.round("__e50", 6).alias("exact_p50"),
        F.round("__e95", 6).alias("exact_p95"),
        ((F.col("__a50") >= F.col("__lo50")) & (F.col("__a50") <= F.col("__hi50"))).alias(
            "p50_in_band"
        ),
        ((F.col("__a95") >= F.col("__lo95")) & (F.col("__a95") <= F.col("__hi95"))).alias(
            "p95_in_band"
        ),
    )


# ---------------------------------------------------------------------------
# q167 — quantile-rank normalization (per-group rank transform to [0,1]):
# the distribution-free feature scaling that survives outliers where
# min-max (q74's Arrow path) does not. percent_rank per event_type over
# (value, event_id) — the id tiebreak makes ranks of duplicate values
# deterministic in both engines. One shuffle on the group key.
# ---------------------------------------------------------------------------
@register(
    "q167_quantile_normalize",
    oracle="""
    SELECT event_id, event_type,
           ROUND(value, 6) AS value,
           ROUND(PERCENT_RANK() OVER (PARTITION BY event_type ORDER BY value, event_id), 6) AS qnorm
    FROM events WHERE event_id % 17 = 0
    """,
)
def q167_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") % 17 == 0)
    w = Window.partitionBy("event_type").orderBy(F.col("value"), F.col("event_id"))
    return ev.select(
        "event_id",
        "event_type",
        F.round("value", 6).alias("value"),
        F.round(F.percent_rank().over(w), 6).alias("qnorm"),
    )


# ---------------------------------------------------------------------------
# q174 — Welch's t-test between two event cohorts (the A/B-test
# primitive behind q139's CUPED): per-cohort n / mean / variance from
# EXACT decimal sums (sum, sum-of-squares of the ``functions.exact``
# decimal value — decimal x decimal products are exact, so both engines feed
# bit-identical doubles into the final formula), then the Welch
# statistic and Satterthwaite df in identically-shaped double
# arithmetic, single-rounded. One scan, one 2-group aggregate — the
# whole test is a map-side-combinable agg at any scale.
# ---------------------------------------------------------------------------
@register(
    "q174_welch_ttest",
    oracle=f"""
    WITH s AS (
      SELECT event_type,
             COUNT(*) AS n,
             {exact_sum_sql("value")} AS sv,
             CAST(SUM({dec_sql("value")} * {dec_sql("value")}) AS DOUBLE) AS svv
      FROM events WHERE event_type IN ('click', 'view')
      GROUP BY event_type),
    m AS (
      SELECT event_type, n, sv / n AS mean,
             (svv - sv * sv / n) / (n - 1) AS var
      FROM s),
    ab AS (
      SELECT
        MAX(CASE WHEN event_type = 'click' THEN n END) AS n1,
        MAX(CASE WHEN event_type = 'click' THEN mean END) AS m1,
        MAX(CASE WHEN event_type = 'click' THEN var END) AS v1,
        MAX(CASE WHEN event_type = 'view' THEN n END) AS n2,
        MAX(CASE WHEN event_type = 'view' THEN mean END) AS m2,
        MAX(CASE WHEN event_type = 'view' THEN var END) AS v2
      FROM m)
    SELECT CAST(n1 AS BIGINT) AS n_click, CAST(n2 AS BIGINT) AS n_view,
           ROUND(m1, 6) AS mean_click, ROUND(m2, 6) AS mean_view,
           ROUND((m1 - m2) / sqrt(v1 / n1 + v2 / n2), 6) AS t_stat,
           ROUND(
             (v1 / n1 + v2 / n2) * (v1 / n1 + v2 / n2)
             / ((v1 / n1) * (v1 / n1) / (n1 - 1) + (v2 / n2) * (v2 / n2) / (n2 - 1)),
             6) AS welch_df
    FROM ab
    """,
)
def q174_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    s = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        exact_sum("value").alias("sv"),
        F.sum(dec("value") * dec("value")).cast("double").alias("svv"),
    )
    m = s.select(
        "event_type",
        "n",
        (F.col("sv") / F.col("n")).alias("mean"),
        ((F.col("svv") - F.col("sv") * F.col("sv") / F.col("n")) / (F.col("n") - 1)).alias(
            "var"
        ),
    )
    def _pick(col: str, et: str) -> F.Column:
        return F.max(F.when(F.col("event_type") == et, F.col(col)))
    ab = m.groupBy().agg(
        _pick("n", "click").alias("n1"),
        _pick("mean", "click").alias("m1"),
        _pick("var", "click").alias("v1"),
        _pick("n", "view").alias("n2"),
        _pick("mean", "view").alias("m2"),
        _pick("var", "view").alias("v2"),
    )
    se2_1 = F.col("v1") / F.col("n1")
    se2_2 = F.col("v2") / F.col("n2")
    return ab.select(
        F.col("n1").cast("bigint").alias("n_click"),
        F.col("n2").cast("bigint").alias("n_view"),
        F.round(F.col("m1"), 6).alias("mean_click"),
        F.round(F.col("m2"), 6).alias("mean_view"),
        F.round((F.col("m1") - F.col("m2")) / F.sqrt(se2_1 + se2_2), 6).alias("t_stat"),
        F.round(
            (se2_1 + se2_2) * (se2_1 + se2_2)
            / (se2_1 * se2_1 / (F.col("n1") - 1) + se2_2 * se2_2 / (F.col("n2") - 1)),
            6,
        ).alias("welch_df"),
    )


# ---------------------------------------------------------------------------
# q175 — Benford first-digit audit over order totals (fraud/data-quality
# screen): the leading digit is taken from the INTEGER part's string
# form (integer-to-string is exact in every engine — no float-formatting
# or log10 edge cases), counted, and compared to the Benford expectation
# log10(1 + 1/d). Output: digit, count, observed share, expected share,
# absolute deviation, and the chi-square contribution. One scan + one
# 9-group agg; the global total is a broadcast 1-row frame.
# ---------------------------------------------------------------------------
@register(
    "q175_benford_digits",
    oracle="""
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS INT)
               AS digit
      FROM orders WHERE o_totalprice >= 1),
    c AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY digit),
    t AS (SELECT SUM(n) AS total FROM c)
    SELECT digit, CAST(n AS BIGINT) AS n,
           ROUND(CAST(n AS DOUBLE) / t.total, 6) AS observed,
           ROUND(log10(1.0 + 1.0 / digit), 6) AS expected,
           ROUND(abs(CAST(n AS DOUBLE) / t.total - log10(1.0 + 1.0 / digit)), 6) AS abs_dev,
           ROUND(
             (CAST(n AS DOUBLE) - t.total * log10(1.0 + 1.0 / digit))
             * (CAST(n AS DOUBLE) - t.total * log10(1.0 + 1.0 / digit))
             / (t.total * log10(1.0 + 1.0 / digit)), 6) AS chi2_term
    FROM c CROSS JOIN t
    """,
)
def q175_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    c = (
        orders.select(
            F.substring(
                F.floor(F.col("o_totalprice")).cast("bigint").cast("string"), 1, 1
            )
            .cast("int")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    t = c.groupBy().agg(F.sum("n").alias("total"))
    obs = F.col("n").cast("double") / F.col("total")
    exp = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    diff = F.col("n").cast("double") - F.col("total") * exp
    return c.crossJoin(F.broadcast(t)).select(
        "digit",
        F.col("n").cast("bigint").alias("n"),
        F.round(obs, 6).alias("observed"),
        F.round(exp, 6).alias("expected"),
        F.round(F.abs(obs - exp), 6).alias("abs_dev"),
        F.round(diff * diff / (F.col("total") * exp), 6).alias("chi2_term"),
    )


# ---------------------------------------------------------------------------
# q176 — Pearson correlation matrix over the lineitem measures
# (feature-screening primitive for the q139/q131 model-prep family):
# all pairwise correlations among quantity / extendedprice / discount /
# tax in ONE scan — a single aggregate computes every decimal sum and
# exact pairwise product-sum (10 of them); the 6 correlations are then
# identically-shaped double expressions over that broadcast 1-row
# frame, unpivoted to (col_a, col_b, corr) rows. At 100 TB this stays a
# map-side-combinable single-pass agg — never one job per pair.
# ---------------------------------------------------------------------------
_CORR_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def _corr_oracle() -> str:
    sums = ["COUNT(*) AS n"]
    for c in _CORR_COLS:
        sums.append(f"{exact_sum_sql(c)} AS s_{c}")
    for i, a in enumerate(_CORR_COLS):
        for b in _CORR_COLS[i:]:
            # DECIMAL(28,4) operands force int128 storage in DuckDB —
            # DECIMAL(18)x DECIMAL(18) would overflow its int64 fast path.
            # The product is exact either way, matching Spark's (37,8).
            sums.append(
                f"CAST(SUM(CAST({a} AS DECIMAL(28,4)) * CAST({b} AS DECIMAL(28,4))) AS DOUBLE)"
                f" AS p_{a}_{b}"
            )
    arms = []
    for i, a in enumerate(_CORR_COLS):
        for b in _CORR_COLS[i + 1 :]:
            arms.append(
                f"SELECT '{a}' AS col_a, '{b}' AS col_b,"
                f" ROUND((n * p_{a}_{b} - s_{a} * s_{b})"
                f" / (sqrt(n * p_{a}_{a} - s_{a} * s_{a})"
                f" * sqrt(n * p_{b}_{b} - s_{b} * s_{b})), 6) AS corr FROM s"
            )
    return "WITH s AS (SELECT " + ", ".join(sums) + " FROM lineitem) " + " UNION ALL ".join(arms)


@register("q176_corr_matrix", oracle=_corr_oracle())
def q176_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    aggs = [F.count(F.lit(1)).alias("n")]
    for c in _CORR_COLS:
        aggs.append(exact_sum(c).alias(f"s_{c}"))
    for i, a in enumerate(_CORR_COLS):
        for b in _CORR_COLS[i:]:
            aggs.append(F.sum(dec(a) * dec(b)).cast("double").alias(f"p_{a}_{b}"))
    s = li.groupBy().agg(*aggs)
    # ONE projection exploding an array of per-pair structs — a UNION of
    # per-pair selects would re-plan (and re-scan) the aggregate subtree
    # once per arm (guarded by tests/test_plans_ext2.py).
    pair_structs = []
    for i, a in enumerate(_CORR_COLS):
        for b in _CORR_COLS[i + 1 :]:
            corr = (
                F.col("n") * F.col(f"p_{a}_{b}") - F.col(f"s_{a}") * F.col(f"s_{b}")
            ) / (
                F.sqrt(F.col("n") * F.col(f"p_{a}_{a}") - F.col(f"s_{a}") * F.col(f"s_{a}"))
                * F.sqrt(F.col("n") * F.col(f"p_{b}_{b}") - F.col(f"s_{b}") * F.col(f"s_{b}"))
            )
            pair_structs.append(
                F.struct(
                    F.lit(a).alias("col_a"),
                    F.lit(b).alias("col_b"),
                    F.round(corr, 6).alias("corr"),
                )
            )
    return s.select(F.explode(F.array(*pair_structs)).alias("r")).select("r.*")


# ---------------------------------------------------------------------------
# q178 — count-min sketch with exact-recount audit (the mergeable-sketch
# companion to q142's Misra-Gries and q55's HLL): d=4 rows x w=256
# buckets, hash_j(key) = 16-bit md5 slice of 'j|key' mod 256 (portable
# md5 discipline — functions/text.py). The sketch is ONE map-side-
# combinable groupBy over (row, bucket) — 1,024 cells regardless of
# input size — and the per-key estimate is min over the 4 probed cells.
# Output: the 20 heaviest part keys with exact count, CMS estimate and
# overcount (est >= exact always; equality when no collision).
# ---------------------------------------------------------------------------
_CMS_D, _CMS_W = 4, 256


def _cms_bucket_sql(j: int) -> str:
    key_expr = f"'{j}|' || CAST(l_partkey AS VARCHAR)"
    return f"({md5_hex_int_sql(key_expr, 4)} % {_CMS_W})"


def _cms_bucket_col(j: int) -> F.Column:
    key = F.concat(F.lit(f"{j}|"), F.col("l_partkey").cast("string"))
    return (F.conv(F.substring(F.md5(key), 1, 4), 16, 10).cast("long") % _CMS_W).cast(
        "int"
    )


@register(
    "q178_count_min_sketch",
    oracle=f"""
    WITH cells AS (
      {" UNION ALL ".join(
        f"SELECT {j} AS j, {_cms_bucket_sql(j)} AS b, COUNT(*) AS n FROM lineitem GROUP BY b"
        for j in range(_CMS_D)
      )}),
    exact AS (SELECT l_partkey AS key, COUNT(*) AS exact FROM lineitem GROUP BY l_partkey),
    probes AS (
      {" UNION ALL ".join(
        f"SELECT key, exact, {j} AS j, {_cms_bucket_sql(j).replace('l_partkey', 'key')} AS b FROM exact"
        for j in range(_CMS_D)
      )}),
    est AS (
      SELECT p.key, p.exact, MIN(c.n) AS est
      FROM probes p JOIN cells c ON p.j = c.j AND p.b = c.b
      GROUP BY p.key, p.exact)
    SELECT CAST(key AS BIGINT) AS key, CAST(exact AS BIGINT) AS exact,
           CAST(est AS BIGINT) AS est, CAST(est - exact AS BIGINT) AS overcount
    FROM est ORDER BY exact DESC, key ASC LIMIT 20
    """,
)
def q178_count_min_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey")
    hashed = li.select(
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(j).alias("j"), _cms_bucket_col(j).alias("b"))
                    for j in range(_CMS_D)
                ]
            )
        ).alias("jb")
    )
    cells = hashed.groupBy(F.col("jb.j").alias("j"), F.col("jb.b").alias("b")).agg(
        F.count(F.lit(1)).alias("n")
    )
    exact = li.groupBy(F.col("l_partkey")).agg(F.count(F.lit(1)).alias("exact"))
    probes = exact.select(
        F.col("l_partkey"),
        "exact",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(j).alias("j"), _cms_bucket_col(j).alias("b"))
                    for j in range(_CMS_D)
                ]
            )
        ).alias("jb"),
    ).select(
        F.col("l_partkey").alias("key"), "exact", F.col("jb.j").alias("j"), F.col("jb.b").alias("b")
    )
    est = (
        probes.join(F.broadcast(cells), ["j", "b"])
        .groupBy("key", "exact")
        .agg(F.min("n").alias("est"))
    )
    return (
        est.select(
            F.col("key").cast("bigint").alias("key"),
            F.col("exact").cast("bigint").alias("exact"),
            F.col("est").cast("bigint").alias("est"),
            (F.col("est") - F.col("exact")).cast("bigint").alias("overcount"),
        )
        .orderBy(F.desc("exact"), F.asc("key"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q180 — Pareto coverage set (the 80/20 completion of q162's
# contribution shares): parts ranked by exact-DECIMAL revenue; emit the
# minimal prefix whose cumulative share reaches 80% (the crossing row
# included — predicate: cumulative share BEFORE this row < 0.8). The
# cumulative window runs over the per-part aggregate (dimension-bounded,
# ~200k rows at 100 TB — not the fact table), so the single-partition
# cumulative window is safe at scale; the fact-side work is one
# map-side-combinable groupBy. Shares divide DECIMAL sums in double at
# the very end, identically parenthesized in both engines.
# ---------------------------------------------------------------------------
@register(
    "q180_pareto_coverage",
    oracle=f"""
    WITH per_part AS (
      SELECT l_partkey AS partkey,
             {REVENUE_SQL} AS rev
      FROM lineitem GROUP BY l_partkey),
    ranked AS (
      SELECT partkey, rev,
             ROW_NUMBER() OVER (ORDER BY rev DESC, partkey ASC) AS rnk,
             SUM(rev) OVER (ORDER BY rev DESC, partkey ASC
                            ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(rev) OVER () AS total
      FROM per_part)
    SELECT CAST(rnk AS BIGINT) AS rnk, partkey,
           -- round the exact DECIMAL, THEN cast: rounding the double would
           -- tie-break .525 cases differently per engine
           CAST(ROUND(rev, 2) AS DOUBLE) AS revenue,
           ROUND(CAST(cum AS DOUBLE) / CAST(total AS DOUBLE), 6) AS cum_share
    FROM ranked
    WHERE CAST(cum - rev AS DOUBLE) / CAST(total AS DOUBLE) < 0.8
    """,
)
def q180_pareto_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    per_part = li.groupBy(F.col("l_partkey").alias("partkey")).agg(_revenue().alias("rev"))
    w_order = Window.orderBy(F.desc("rev"), F.asc("partkey"))
    w_cum = w_order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = Window.partitionBy()
    ranked = per_part.select(
        "partkey",
        "rev",
        F.row_number().over(w_order).alias("rnk"),
        F.sum("rev").over(w_cum).alias("cum"),
        F.sum("rev").over(w_all).alias("total"),
    )
    return ranked.filter(
        (F.col("cum") - F.col("rev")).cast("double") / F.col("total").cast("double") < 0.8
    ).select(
        F.col("rnk").cast("bigint").alias("rnk"),
        "partkey",
        F.round(F.col("rev"), 2).cast("double").alias("revenue"),
        F.round(F.col("cum").cast("double") / F.col("total").cast("double"), 6).alias("cum_share"),
    )


# ---------------------------------------------------------------------------
# q181 — Gini coefficient of customer revenue concentration (inequality
# audit over the q172 monetary base): G = 2*sum(i*x_i)/(n*sum(x)) -
# (n+1)/n with x sorted ascending (ties broken by custkey — the same
# total order in both engines). sum(i*x_i) multiplies the BIGINT rank
# into the DECIMAL revenue, so both sums stay exact; the final formula
# is one double expression over a 1-row frame. The rank window runs on
# the per-customer aggregate (dimension-bounded at scale).
# ---------------------------------------------------------------------------
@register(
    "q181_gini_revenue",
    oracle=f"""
    WITH per_cust AS (
      SELECT o_custkey AS custkey, SUM({dec_sql("o_totalprice")}) AS rev
      FROM orders GROUP BY o_custkey),
    ranked AS (
      SELECT rev, ROW_NUMBER() OVER (ORDER BY rev ASC, custkey ASC) AS i
      FROM per_cust),
    s AS (
      SELECT COUNT(*) AS n,
             SUM(rev) AS total,
             SUM(CAST(i AS DECIMAL(18,0)) * rev) AS weighted
      FROM ranked)
    SELECT CAST(n AS BIGINT) AS n,
           ROUND(CAST(total AS DOUBLE), 2) AS total_revenue,
           ROUND(2.0 * CAST(weighted AS DOUBLE) / (n * CAST(total AS DOUBLE))
                 - (n + 1.0) / n, 6) AS gini
    FROM s
    """,
)
def q181_gini_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.sum(dec("o_totalprice")).alias("rev")
    )
    ranked = per_cust.select(
        "rev", F.row_number().over(Window.orderBy(F.asc("rev"), F.asc("custkey"))).alias("i")
    )
    s = ranked.groupBy().agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("rev").alias("total"),
        F.sum(F.col("i").cast("decimal(18,0)") * F.col("rev")).alias("weighted"),
    )
    return s.select(
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("total").cast("double"), 2).alias("total_revenue"),
        F.round(
            F.lit(2.0) * F.col("weighted").cast("double")
            / (F.col("n") * F.col("total").cast("double"))
            - (F.col("n") + F.lit(1.0)) / F.col("n"),
            6,
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# q182 — Shannon entropy of the order-priority mix per nation
# (distribution-drift primitive alongside q127's KL divergence).
# Order-independence discipline: the per-(nation, priority) term
# p*ln(p) is an irrational double, and summing doubles is
# order-sensitive — so each term is rounded to DECIMAL(18,12) FIRST and
# the decimal terms are summed exactly (any order), then negated and
# single-rounded. With <= 5 priorities per nation the 5e-13 worst-case
# term rounding is invisible at the output's 6 decimals.
# ---------------------------------------------------------------------------
@register(
    "q182_priority_entropy",
    oracle="""
    WITH j AS (
      SELECT n.n_name AS nation, o.o_orderpriority AS prio
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
                    JOIN nation n ON c.c_nationkey = n.n_nationkey),
    cnt AS (SELECT nation, prio, COUNT(*) AS k FROM j GROUP BY nation, prio),
    tot AS (SELECT nation, SUM(k) AS total FROM cnt GROUP BY nation),
    terms AS (
      SELECT c.nation, t.total,
             CAST(ROUND((CAST(k AS DOUBLE) / t.total) * ln(CAST(k AS DOUBLE) / t.total), 12)
                  AS DECIMAL(18,12)) AS term
      FROM cnt c JOIN tot t ON c.nation = t.nation)
    SELECT nation, CAST(MAX(total) AS BIGINT) AS n_orders,
           ROUND(CAST(-SUM(term) AS DOUBLE), 6) AS entropy
    FROM terms GROUP BY nation
    """,
)
def q182_priority_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    j = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .select(F.col("n_name").alias("nation"), F.col("o_orderpriority").alias("prio"))
    )
    cnt = j.groupBy("nation", "prio").agg(F.count(F.lit(1)).alias("k"))
    tot = cnt.groupBy("nation").agg(F.sum("k").alias("total"))
    p = F.col("k").cast("double") / F.col("total")
    terms = cnt.join(tot, "nation").select(
        "nation",
        "total",
        F.round(p * F.log(p), 12).cast("decimal(18,12)").alias("term"),
    )
    return terms.groupBy("nation").agg(
        F.max("total").cast("bigint").alias("n_orders"),
        F.round((-F.sum("term")).cast("double"), 6).alias("entropy"),
    )


# ---------------------------------------------------------------------------
# q196 — statistical mode per group (most frequent order priority per
# nation, deterministic tie-break by priority asc): count-then-rank —
# one fact-side groupBy plus a window over the tiny (nation x priority)
# rollup. The mode share rides along. (Engines disagree on native
# mode()'s tie rule, so the explicit rank IS the portable spec.)
# ---------------------------------------------------------------------------
@register(
    "q196_mode_per_group",
    oracle="""
    WITH j AS (
      SELECT n.n_name AS nation, o.o_orderpriority AS prio
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
                    JOIN nation n ON c.c_nationkey = n.n_nationkey),
    cnt AS (SELECT nation, prio, COUNT(*) AS k FROM j GROUP BY nation, prio),
    tot AS (SELECT nation, SUM(k) AS total FROM cnt GROUP BY nation),
    r AS (SELECT nation, prio, k,
                 ROW_NUMBER() OVER (PARTITION BY nation ORDER BY k DESC, prio ASC) AS rn
          FROM cnt)
    SELECT r.nation, r.prio AS mode_priority, CAST(r.k AS BIGINT) AS n_mode,
           ROUND(CAST(r.k AS DOUBLE) / t.total, 6) AS mode_share
    FROM r JOIN tot t ON r.nation = t.nation
    WHERE r.rn = 1
    """,
)
def q196_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    j = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .select(F.col("n_name").alias("nation"), F.col("o_orderpriority").alias("prio"))
    )
    cnt = j.groupBy("nation", "prio").agg(F.count(F.lit(1)).alias("k"))
    tot = cnt.groupBy("nation").agg(F.sum("k").alias("total"))
    r = cnt.withColumn(
        "rn",
        F.row_number().over(Window.partitionBy("nation").orderBy(F.desc("k"), F.asc("prio"))),
    ).filter(F.col("rn") == 1)
    return r.join(tot, "nation").select(
        "nation",
        F.col("prio").alias("mode_priority"),
        F.col("k").cast("bigint").alias("n_mode"),
        F.round(F.col("k").cast("double") / F.col("total"), 6).alias("mode_share"),
    )


def _nearest_rank(q: float, v: str) -> F.Column:
    """The nearest-rank ``q`` quantile of column ``v`` in a group whose
    rows carry their 1-based rank ``rn`` and the group size ``n``: the
    value at rank ``ceil(q * n)``."""
    return F.max(F.when(F.col("rn") == F.ceil(F.lit(q) * F.col("n")).cast("bigint"), F.col(v)))


# ---------------------------------------------------------------------------
# q197 — exact per-group quantiles by rank (the per-group form of
# q188's rank-exact quartiles; never an engine-native interpolating
# percentile): per market segment the lower-median and p90 of order
# totals, selected at rank ceil(q*n) in (value, orderkey) order. One
# window stack partitioned by segment — the quantile row selection is a
# conditional aggregate, no second scan.
# ---------------------------------------------------------------------------
@register(
    "q197_group_median_exact",
    oracle="""
    WITH j AS (
      SELECT c.c_mktsegment AS segment, o.o_totalprice AS v, o.o_orderkey
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
    r AS (SELECT segment, v,
                 ROW_NUMBER() OVER (PARTITION BY segment ORDER BY v, o_orderkey) AS rn,
                 COUNT(*) OVER (PARTITION BY segment) AS n
          FROM j)
    SELECT segment, CAST(MAX(n) AS BIGINT) AS n_orders,
           ROUND(MAX(CASE WHEN rn = CAST(ceil(0.50 * n) AS BIGINT) THEN v END), 2) AS median_price,
           ROUND(MAX(CASE WHEN rn = CAST(ceil(0.90 * n) AS BIGINT) THEN v END), 2) AS p90_price
    FROM r GROUP BY segment
    """,
)
def q197_group_median_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    j = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey).select(
        F.col("c_mktsegment").alias("segment"),
        F.col("o_totalprice").alias("v"),
        "o_orderkey",
    )
    w = Window.partitionBy("segment")
    r = j.select(
        "segment",
        "v",
        F.row_number().over(w.orderBy("v", "o_orderkey")).alias("rn"),
        F.count(F.lit(1)).over(w).alias("n"),
    )

    return r.groupBy("segment").agg(
        F.max("n").cast("bigint").alias("n_orders"),
        F.round(_nearest_rank(0.50, "v"), 2).alias("median_price"),
        F.round(_nearest_rank(0.90, "v"), 2).alias("p90_price"),
    )


# ---------------------------------------------------------------------------
# q202 — exact weighted median (quantity-weighted order price per
# segment; the weighted completion of q197's rank quantiles): the
# weighted median is the first value, in (value, orderkey) order, whose
# running weight reaches half the segment's total weight — cumulative
# exact-DECIMAL weight windows, no interpolation, no native percentile.
# ---------------------------------------------------------------------------
@register(
    "q202_weighted_median",
    oracle=f"""
    WITH j AS (
      SELECT c.c_mktsegment AS segment, l.l_extendedprice AS v,
             {dec_sql("l.l_quantity")} AS w, l.l_orderkey
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
                      JOIN customer c ON o.o_custkey = c.c_custkey),
    r AS (
      SELECT segment, v, w,
             SUM(w) OVER (PARTITION BY segment ORDER BY v, l_orderkey
                          ROWS UNBOUNDED PRECEDING) AS cum_w,
             SUM(w) OVER (PARTITION BY segment) AS total_w
      FROM j),
    hit AS (
      SELECT segment, v, total_w,
             ROW_NUMBER() OVER (PARTITION BY segment ORDER BY cum_w, v) AS rn
      FROM r WHERE cum_w * 2 >= total_w)
    SELECT segment,
           CAST({dec_sql("total_w")} AS DOUBLE) AS total_weight,
           ROUND(v, 2) AS weighted_median_price
    FROM hit WHERE rn = 1
    """,
)
def q202_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    j = (
        li.join(orders.select("o_orderkey", "o_custkey"), li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust.select("c_custkey", "c_mktsegment")), orders.o_custkey == cust.c_custkey)
        .select(
            F.col("c_mktsegment").alias("segment"),
            F.col("l_extendedprice").alias("v"),
            dec("l_quantity").alias("w"),
            "l_orderkey",
        )
    )
    wseg = Window.partitionBy("segment")
    r = j.select(
        "segment",
        "v",
        F.sum("w").over(wseg.orderBy("v", "l_orderkey").rowsBetween(Window.unboundedPreceding, Window.currentRow)).alias("cum_w"),
        F.sum("w").over(wseg).alias("total_w"),
    )
    hit = r.filter(F.col("cum_w") * 2 >= F.col("total_w")).withColumn(
        "rn", F.row_number().over(wseg.orderBy("cum_w", "v"))
    )
    return hit.filter(F.col("rn") == 1).select(
        "segment",
        F.col("total_w").cast("double").alias("total_weight"),
        F.round("v", 2).alias("weighted_median_price"),
    )


# ---------------------------------------------------------------------------
# q203 — Lorenz curve deciles (the distributional readout behind q181's
# Gini scalar): customers NTILE(10)'d by revenue ascending (tie: custkey),
# each decile reporting its revenue share and the cumulative share —
# the '(bottom 50% hold x%)' export. Windows run over the per-customer
# aggregate; shares divide exact DECIMAL sums at the end.
# ---------------------------------------------------------------------------
@register(
    "q203_lorenz_deciles",
    oracle=f"""
    WITH per_cust AS (
      SELECT o_custkey AS custkey, SUM({dec_sql("o_totalprice")}) AS rev
      FROM orders GROUP BY o_custkey),
    d AS (SELECT custkey, rev,
                 NTILE(10) OVER (ORDER BY rev ASC, custkey ASC) AS decile
          FROM per_cust),
    cell AS (SELECT decile, COUNT(*) AS n_customers, SUM(rev) AS rev
             FROM d GROUP BY decile),
    c AS (SELECT decile, n_customers, rev,
                 SUM(rev) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING) AS cum_rev,
                 SUM(rev) OVER () AS total
          FROM cell)
    SELECT CAST(decile AS INT) AS decile, CAST(n_customers AS BIGINT) AS n_customers,
           ROUND(CAST(rev AS DOUBLE) / CAST(total AS DOUBLE), 6) AS rev_share,
           ROUND(CAST(cum_rev AS DOUBLE) / CAST(total AS DOUBLE), 6) AS cum_share
    FROM c
    """,
)
def q203_lorenz_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.sum(dec("o_totalprice")).alias("rev")
    )
    d = per_cust.select(
        "rev", F.ntile(10).over(Window.orderBy(F.asc("rev"), F.asc("custkey"))).alias("decile")
    )
    cell = d.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_customers"), F.sum("rev").alias("rev")
    )
    wc = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wall = Window.partitionBy()
    c = cell.select(
        "decile",
        "n_customers",
        "rev",
        F.sum("rev").over(wc).alias("cum_rev"),
        F.sum("rev").over(wall).alias("total"),
    )
    return c.select(
        F.col("decile").cast("int").alias("decile"),
        F.col("n_customers").cast("bigint").alias("n_customers"),
        F.round(F.col("rev").cast("double") / F.col("total").cast("double"), 6).alias("rev_share"),
        F.round(F.col("cum_rev").cast("double") / F.col("total").cast("double"), 6).alias("cum_share"),
    )


# ---------------------------------------------------------------------------
# q206 — sample-ratio-mismatch (SRM) check on the q80 splits (the
# experimentation-platform guardrail run before ANY A/B readout): the
# md5-derived 80/10/10 split assignment is recounted and chi-square
# tested against its declared 204/26/26-of-256 ratios. Audits the
# EXACT q80/q81 split spec (same 8-bit md5 slice), one groupBy over ids.
# ---------------------------------------------------------------------------
@register(
    "q206_srm_check",
    oracle=f"""
    WITH h AS (
      SELECT {MD5_SPLIT_BUCKET_SQL} AS h
      FROM documents),
    b AS (SELECT {SPLIT_SQL} AS split
          FROM h),
    cnt AS (SELECT split, COUNT(*) AS n FROM b GROUP BY split),
    tot AS (SELECT SUM(n) AS total FROM cnt),
    ex AS (SELECT split, n, total,
                  CASE split WHEN 'train' THEN 204.0 WHEN 'val' THEN 26.0 ELSE 26.0 END / 256.0 * total
                    AS expected
           FROM cnt CROSS JOIN tot)
    SELECT split, CAST(n AS BIGINT) AS n,
           ROUND(expected, 2) AS expected,
           ROUND((n - expected) * (n - expected) / expected, 6) AS chi2_term
    FROM ex
    """,
)
def q206_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # EXACTLY q80's split rule (8-bit md5 slice, 204/26/26 of 256)
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10).cast("long")
    b = docs.select(
        md5_split(h).alias("split")
    )
    cnt = b.groupBy("split").agg(F.count(F.lit(1)).alias("n"))
    tot = cnt.groupBy().agg(F.sum("n").alias("total"))
    expected = (
        F.when(F.col("split") == "train", 204.0).when(F.col("split") == "val", 26.0).otherwise(26.0)
        / 256.0
        * F.col("total")
    )
    return cnt.crossJoin(F.broadcast(tot)).select(
        "split",
        F.col("n").cast("bigint").alias("n"),
        F.round(expected, 2).alias("expected"),
        F.round((F.col("n") - expected) * (F.col("n") - expected) / expected, 6).alias("chi2_term"),
    )


# ---------------------------------------------------------------------------
# q208 — equal-width histogram with explicit under/overflow bins (the
# fixed-bin complement of q120's equi-depth): order totals into 10
# bins over [0, 500000) plus outlier bins — bin edges are FIXED
# constants (the production pattern: stable bins across daily runs so
# dashboards diff cleanly), not data-dependent. One scan, one groupBy.
# ---------------------------------------------------------------------------
@register(
    "q208_fixed_histogram",
    oracle="""
    WITH b AS (
      SELECT CASE WHEN o_totalprice < 0 THEN -1
                  WHEN o_totalprice >= 500000 THEN 10
                  ELSE CAST(floor(o_totalprice / 50000) AS INT) END AS bin
      FROM orders),
    cnt AS (SELECT bin, COUNT(*) AS n FROM b GROUP BY bin),
    tot AS (SELECT SUM(n) AS total FROM cnt)
    SELECT CAST(bin AS INT) AS bin,
           CASE WHEN bin = -1 THEN '<0' WHEN bin = 10 THEN '>=500000'
                ELSE CAST(bin * 50000 AS VARCHAR) || '-' || CAST((bin + 1) * 50000 AS VARCHAR)
           END AS label,
           CAST(n AS BIGINT) AS n,
           ROUND(CAST(n AS DOUBLE) / tot.total, 6) AS share
    FROM cnt CROSS JOIN tot
    """,
)
def q208_fixed_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    bin_col = (
        F.when(F.col("o_totalprice") < 0, -1)
        .when(F.col("o_totalprice") >= 500000, 10)
        .otherwise(F.floor(F.col("o_totalprice") / 50000).cast("int"))
    )
    cnt = orders.select(bin_col.alias("bin")).groupBy("bin").agg(F.count(F.lit(1)).alias("n"))
    tot = cnt.groupBy().agg(F.sum("n").alias("total"))
    label = (
        F.when(F.col("bin") == -1, "<0")
        .when(F.col("bin") == 10, ">=500000")
        .otherwise(
            F.concat(
                (F.col("bin") * 50000).cast("string"), F.lit("-"), ((F.col("bin") + 1) * 50000).cast("string")
            )
        )
    )
    return cnt.crossJoin(F.broadcast(tot)).select(
        F.col("bin").cast("int").alias("bin"),
        label.alias("label"),
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("n").cast("double") / F.col("total"), 6).alias("share"),
    )


# ---------------------------------------------------------------------------
# q209 — rare-category collapse (cardinality capping before one-hot /
# hashing featurization): part brands below 2% support collapse into
# '__OTHER__'; output the post-collapse vocabulary with pre/post
# cardinality trail. Support comes from one fact-side groupBy; the
# collapse is a broadcast map of the tiny brand rollup — the fact
# table is never re-scanned.
# ---------------------------------------------------------------------------
@register(
    "q209_rare_collapse",
    oracle="""
    WITH cnt AS (
      SELECT p.p_brand AS brand, COUNT(*) AS n
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY p.p_brand),
    tot AS (SELECT SUM(n) AS total FROM cnt),
    m AS (SELECT brand,
                 CASE WHEN CAST(n AS DOUBLE) / tot.total >= 0.02 THEN brand
                      ELSE '__OTHER__' END AS mapped, n
          FROM cnt CROSS JOIN tot)
    SELECT mapped AS category,
           CAST(COUNT(*) AS BIGINT) AS n_source_brands,
           CAST(SUM(n) AS BIGINT) AS n_rows,
           ROUND(CAST(SUM(n) AS DOUBLE) / MAX(tot.total), 6) AS share
    FROM m CROSS JOIN tot GROUP BY mapped
    """,
)
def q209_rare_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    cnt = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = cnt.groupBy().agg(F.sum("n").alias("total"))
    m = cnt.crossJoin(F.broadcast(tot)).select(
        F.when(F.col("n").cast("double") / F.col("total") >= 0.02, F.col("brand"))
        .otherwise("__OTHER__")
        .alias("category"),
        "n",
        "total",
    )
    return m.groupBy("category").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_source_brands"),
        F.sum("n").cast("bigint").alias("n_rows"),
        F.round(F.sum("n").cast("double") / F.max("total"), 6).alias("share"),
    )


# ---------------------------------------------------------------------------
# q212 — Tukey IQR-fence outlier audit per event type (the
# quartile-based policy, complementing z-score q71 and MAD q116):
# rank-exact Q1/Q3 (q197's convention — element at ceil(q*n), no
# interpolation), fences at 1.5*IQR, and per type the count and rate
# of out-of-fence events. Two passes over the fact: one to rank within
# type (per-key window), one broadcast-joined fence filter.
# ---------------------------------------------------------------------------
@register(
    "q212_iqr_outliers",
    oracle="""
    WITH r AS (
      SELECT event_type, value,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM events),
    q AS (
      SELECT event_type, MAX(n) AS n,
             MAX(CASE WHEN rn = CAST(ceil(0.25 * n) AS BIGINT) THEN value END) AS q1,
             MAX(CASE WHEN rn = CAST(ceil(0.75 * n) AS BIGINT) THEN value END) AS q3
      FROM r GROUP BY event_type),
    f AS (SELECT event_type, n, q1, q3,
                 q1 - 1.5 * (q3 - q1) AS lo, q3 + 1.5 * (q3 - q1) AS hi
          FROM q)
    SELECT e.event_type, CAST(MAX(f.n) AS BIGINT) AS n,
           ROUND(MAX(f.q1), 2) AS q1, ROUND(MAX(f.q3), 2) AS q3,
           CAST(SUM(CASE WHEN e.value < f.lo OR e.value > f.hi THEN 1 ELSE 0 END) AS BIGINT)
             AS n_outliers,
           ROUND(CAST(SUM(CASE WHEN e.value < f.lo OR e.value > f.hi THEN 1 ELSE 0 END) AS DOUBLE)
                 / MAX(f.n), 6) AS outlier_rate
    FROM events e JOIN f ON e.event_type = f.event_type
    GROUP BY e.event_type
    """,
)
def q212_iqr_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    wt = Window.partitionBy("event_type")
    r = ev.select(
        "event_type",
        "value",
        F.row_number().over(wt.orderBy("value", "event_id")).alias("rn"),
        F.count(F.lit(1)).over(wt).alias("n"),
    )

    qs = r.groupBy("event_type").agg(
        F.max("n").alias("n"),
        _nearest_rank(0.25, "value").alias("q1"),
        _nearest_rank(0.75, "value").alias("q3"),
    )
    f = qs.select(
        "event_type",
        "n",
        "q1",
        "q3",
        (F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))).alias("lo"),
        (F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))).alias("hi"),
    )
    out = F.sum(F.when((F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi")), 1).otherwise(0))
    return (
        ev.join(F.broadcast(f), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("n").cast("bigint").alias("n"),
            F.round(F.max("q1"), 2).alias("q1"),
            F.round(F.max("q3"), 2).alias("q3"),
            out.cast("bigint").alias("n_outliers"),
            F.round(out.cast("double") / F.max("n"), 6).alias("outlier_rate"),
        )
    )


# ---------------------------------------------------------------------------
# q214 — daily cross-sectional percentile bands (the p10/p50/p90
# envelope chart feed): per day, rank-exact percentiles of event values
# ACROSS types (q197's ceil(q*n) convention, tie-broken by event_id).
# One per-day window stack over the fact — the band table is
# day-bounded regardless of event volume.
# ---------------------------------------------------------------------------
@register(
    "q214_percentile_bands",
    oracle="""
    WITH r AS (
      SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day, value,
             ROW_NUMBER() OVER (PARTITION BY CAST(floor(epoch(ts)) AS BIGINT) // 86400
                                ORDER BY value, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY CAST(floor(epoch(ts)) AS BIGINT) // 86400) AS n
      FROM events)
    SELECT day, CAST(MAX(n) AS BIGINT) AS n_events,
           ROUND(MAX(CASE WHEN rn = CAST(ceil(0.10 * n) AS BIGINT) THEN value END), 2) AS p10,
           ROUND(MAX(CASE WHEN rn = CAST(ceil(0.50 * n) AS BIGINT) THEN value END), 2) AS p50,
           ROUND(MAX(CASE WHEN rn = CAST(ceil(0.90 * n) AS BIGINT) THEN value END), 2) AS p90
    FROM r GROUP BY day
    """,
)
def q214_percentile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    day = (F.col("ts").cast("long") / 86400).cast("bigint")
    wd = Window.partitionBy("day")
    r = ev.select(day.alias("day"), "value", "event_id").select(
        "day",
        "value",
        F.row_number().over(wd.orderBy("value", "event_id")).alias("rn"),
        F.count(F.lit(1)).over(wd).alias("n"),
    )

    return r.groupBy("day").agg(
        F.max("n").cast("bigint").alias("n_events"),
        F.round(_nearest_rank(0.10, "value"), 2).alias("p10"),
        F.round(_nearest_rank(0.50, "value"), 2).alias("p50"),
        F.round(_nearest_rank(0.90, "value"), 2).alias("p90"),
    )


# ---------------------------------------------------------------------------
# q223 — winsorization at rank-exact p1/p99 (outlier clamping before
# model features; the destructive sibling of q212's audit): fences per
# event_type via the ceil(q*n) convention, values clamped into
# [p1, p99], and the per-type report shows clamped counts and the
# exact-decimal mean before/after — the quantified effect of the clamp.
# ---------------------------------------------------------------------------
@register(
    "q223_winsorize",
    oracle=f"""
    WITH r AS (
      SELECT event_type, value,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM events),
    q AS (
      SELECT event_type, MAX(n) AS n,
             MAX(CASE WHEN rn = CAST(ceil(0.01 * n) AS BIGINT) THEN value END) AS p1,
             MAX(CASE WHEN rn = CAST(ceil(0.99 * n) AS BIGINT) THEN value END) AS p99
      FROM r GROUP BY event_type),
    w AS (
      SELECT e.event_type, q.n, q.p1, q.p99, e.value,
             CASE WHEN e.value < q.p1 THEN q.p1
                  WHEN e.value > q.p99 THEN q.p99 ELSE e.value END AS wv
      FROM events e JOIN q ON e.event_type = q.event_type)
    SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
           ROUND(MAX(p1), 2) AS p1, ROUND(MAX(p99), 2) AS p99,
           CAST(SUM(CASE WHEN value != wv THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped,
           ROUND({exact_sum_sql("value")} / MAX(n), 6) AS mean_before,
           ROUND({exact_sum_sql("wv")} / MAX(n), 6) AS mean_after
    FROM w GROUP BY event_type
    """,
)
def q223_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    wt = Window.partitionBy("event_type")
    r = ev.select(
        "event_type",
        "value",
        F.row_number().over(wt.orderBy("value", "event_id")).alias("rn"),
        F.count(F.lit(1)).over(wt).alias("n"),
    )

    qf = r.groupBy("event_type").agg(
        F.max("n").alias("n"),
        _nearest_rank(0.01, "value").alias("p1"),
        _nearest_rank(0.99, "value").alias("p99"),
    )
    w = ev.join(F.broadcast(qf), "event_type").withColumn(
        "wv",
        F.when(F.col("value") < F.col("p1"), F.col("p1"))
        .when(F.col("value") > F.col("p99"), F.col("p99"))
        .otherwise(F.col("value")),
    )
    return w.groupBy("event_type").agg(
        F.max("n").cast("bigint").alias("n"),
        F.round(F.max("p1"), 2).alias("p1"),
        F.round(F.max("p99"), 2).alias("p99"),
        F.sum(F.when(F.col("value") != F.col("wv"), 1).otherwise(0)).cast("bigint").alias("n_clamped"),
        F.round(exact_sum("value") / F.max("n"), 6).alias("mean_before"),
        F.round(exact_sum("wv") / F.max("n"), 6).alias("mean_after"),
    )


# ---------------------------------------------------------------------------
# q245 — Theil-Sen robust trend per event_type: the median of all
# pairwise slopes of the daily-sum series (outlier-proof counterpart of
# the q131 OLS trend). Series are short (~a month per key), so the
# pairwise self-join is per-key bounded (n*(n-1)/2 ≈ 500 rows/key) and
# partitioned by event_type — no cross-key work. Median is rank-exact
# (q197's convention: element at ceil(n/2), no interpolation), so the
# result is a value the data actually contains — engine-identical.
# ---------------------------------------------------------------------------
@register(
    "q245_theil_sen",
    oracle=f"""
    WITH daily AS (
      SELECT event_type,
             CAST(epoch(date_trunc('day', ts)) // 86400 AS BIGINT) AS d,
             {exact_sum_sql("value")} AS x
      FROM events GROUP BY event_type, d),
    slopes AS (
      SELECT a.event_type, (b.x - a.x) / (b.d - a.d) AS slope
      FROM daily a JOIN daily b
        ON a.event_type = b.event_type AND a.d < b.d),
    ranked AS (
      SELECT event_type, slope,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY slope) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM slopes)
    SELECT event_type, CAST(n AS BIGINT) AS n_pairs,
           ROUND(slope, 6) AS theil_sen_slope
    FROM ranked WHERE rn = CAST(ceil(0.5 * n) AS BIGINT)
    ORDER BY event_type
    """,
)
def q245_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            "event_type",
            (F.date_trunc("day", F.col("ts")).cast("long") / F.lit(86400))
            .cast("bigint")
            .alias("d"),
        )
        .agg(exact_sum("value").alias("x"))
    )
    a = daily.select("event_type", F.col("d").alias("da"), F.col("x").alias("xa"))
    b = daily.select("event_type", F.col("d").alias("db"), F.col("x").alias("xb"))
    slopes = (
        a.join(b, "event_type")
        .filter(F.col("da") < F.col("db"))
        .select(
            "event_type",
            ((F.col("xb") - F.col("xa")) / (F.col("db") - F.col("da"))).alias("slope"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("slope")
    ranked = slopes.select(
        "event_type", "slope",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("n"),
    )
    return (
        ranked.filter(F.col("rn") == F.ceil(F.lit(0.5) * F.col("n")).cast("bigint"))
        .select(
            "event_type",
            F.col("n").cast("bigint").alias("n_pairs"),
            F.round("slope", 6).alias("theil_sen_slope"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# q249 — Poisson bootstrap confidence interval (Chamandy et al., "The
# Poisson bootstrap"): THE resampling scheme that scales on map-reduce —
# instead of drawing n rows with replacement (needs global coordination),
# each row independently gets a Poisson(1) replicate count. Per
# (order-priority, replicate) the resampled mean uses exact DECIMAL
# sums; the 95% CI is rank-exact over the B=40 replicate means.
# Everything is DETERMINISTIC: the Poisson draw inverts an md5-derived
# 16-bit uniform against INTEGER thresholds (24113/48226/60281/64292 ≈
# 65536 * cum Poisson(1) CDF, tail capped at 4) — zero float
# comparisons, bit-identical in both engines.
# ---------------------------------------------------------------------------
_BOOT_B = 40
_BOOT_T = (24113, 48226, 60281, 64292)


@register(
    "q249_poisson_bootstrap",
    oracle=f"""
    WITH rep AS (SELECT unnest(range(0, {_BOOT_B})) AS r),
    drawn AS (
      SELECT o.o_orderpriority, rep.r,
             CASE WHEN {md5_hex_int_sql("CAST(o_orderkey AS VARCHAR) || '|' || CAST(rep.r AS VARCHAR)", 4)} < {_BOOT_T[0]} THEN 0
                  WHEN {md5_hex_int_sql("CAST(o_orderkey AS VARCHAR) || '|' || CAST(rep.r AS VARCHAR)", 4)} < {_BOOT_T[1]} THEN 1
                  WHEN {md5_hex_int_sql("CAST(o_orderkey AS VARCHAR) || '|' || CAST(rep.r AS VARCHAR)", 4)} < {_BOOT_T[2]} THEN 2
                  WHEN {md5_hex_int_sql("CAST(o_orderkey AS VARCHAR) || '|' || CAST(rep.r AS VARCHAR)", 4)} < {_BOOT_T[3]} THEN 3
                  ELSE 4 END AS cnt,
             {dec_sql("o_totalprice")} AS price
      FROM orders o CROSS JOIN rep),
    means AS (
      SELECT o_orderpriority, r,
             CAST(SUM(cnt * price) AS DOUBLE) / NULLIF(SUM(cnt), 0) AS m
      FROM drawn GROUP BY o_orderpriority, r),
    ranked AS (
      SELECT o_orderpriority, m,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY m) AS rn
      FROM means),
    ci AS (
      SELECT o_orderpriority,
             MAX(CASE WHEN rn = {max(1, -(-25 * _BOOT_B // 1000))} THEN m END) AS lo,
             MAX(CASE WHEN rn = {-(-975 * _BOOT_B // 1000)} THEN m END) AS hi
      FROM ranked GROUP BY o_orderpriority),
    pt AS (
      SELECT o_orderpriority,
             {exact_sum_sql("o_totalprice")} / COUNT(*) AS point_mean
      FROM orders GROUP BY o_orderpriority)
    SELECT pt.o_orderpriority, ROUND(pt.point_mean, 4) AS point_mean,
           ROUND(ci.lo, 4) AS ci_lo, ROUND(ci.hi, 4) AS ci_hi
    FROM pt JOIN ci ON pt.o_orderpriority = ci.o_orderpriority
    ORDER BY pt.o_orderpriority
    """,
)
def q249_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority", "o_totalprice")
    rep = F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("r")
    # Per-row cost surgery (guide §1.2 step 2, decomposed with the noop
    # sink: explode 1.5 s, +concat 1.5 s, +md5 2.1 s, +conv 1.7 s, CASE
    # references multiplying the chain 4x — 8.5 s total at sf0.1):
    # 1. the threshold compare happens in HEX STRING space: md5 emits
    #    fixed-width lowercase hex, whose lexicographic order equals the
    #    numeric order of any fixed-width prefix, so
    #    conv(substr(h,1,4),16,10) < T  <=>  h < lower_hex_4(T) as a
    #    plain string compare — the conv (generic base conversion, the
    #    single most expensive link) disappears; the oracle keeps the
    #    conv spelling and the VALUES are provably identical;
    # 2. the hash lives in its OWN projection so the 4-branch CASE
    #    references an attribute, not 4 copies of the chain
    #    (CollapseProject refuses to re-inline a non-cheap expression
    #    referenced more than once — guide §4.4's pathology in built-in
    #    form);
    # 3. the orderkey is cast to string ONCE per order, before the
    #    40-way replicate explode, not once per (order, r).
    # Together: 8.5 -> 6.1 s at sf0.1 (min of 3, ~1% steal).
    hexed = ["%04x" % t for t in _BOOT_T]
    hc = F.col("__h")
    cnt = (
        F.when(hc < hexed[0], 0)
        .when(hc < hexed[1], 1)
        .when(hc < hexed[2], 2)
        .when(hc < hexed[3], 3)
        .otherwise(4)
    )
    h = F.md5(F.concat(F.col("__k"), F.lit("|"), F.col("r").cast("string")))
    drawn = orders.select(
        F.col("o_orderkey").cast("string").alias("__k"),
        "o_orderpriority",
        dec("o_totalprice").alias("price"),
    ).select("o_orderpriority", rep, "price", "__k").select(
        "o_orderpriority", "r", h.alias("__h"), "price"
    ).select("o_orderpriority", "r", cnt.alias("cnt"), "price")
    means = drawn.groupBy("o_orderpriority", "r").agg(
        (
            F.sum(F.col("cnt") * F.col("price")).cast("double")
            / F.nullif(F.sum("cnt"), F.lit(0))
        ).alias("m")
    )
    w = Window.partitionBy("o_orderpriority").orderBy("m")
    lo_rn = max(1, -(-25 * _BOOT_B // 1000))
    hi_rn = -(-975 * _BOOT_B // 1000)
    ci = (
        means.withColumn("rn", F.row_number().over(w))
        .groupBy("o_orderpriority")
        .agg(
            F.max(F.when(F.col("rn") == lo_rn, F.col("m"))).alias("lo"),
            F.max(F.when(F.col("rn") == hi_rn, F.col("m"))).alias("hi"),
        )
    )
    pt = orders.groupBy("o_orderpriority").agg(
        (exact_sum("o_totalprice") / F.count(F.lit(1))).alias("point_mean")
    )
    return (
        pt.join(ci, "o_orderpriority")
        .select(
            "o_orderpriority",
            F.round("point_mean", 4).alias("point_mean"),
            F.round("lo", 4).alias("ci_lo"),
            F.round("hi", 4).alias("ci_hi"),
        )
        .orderBy("o_orderpriority")
    )
