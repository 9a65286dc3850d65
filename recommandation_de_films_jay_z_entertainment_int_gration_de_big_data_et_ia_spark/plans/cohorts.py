"""User behaviour over time: funnels, RFM segments, activity streaks,
time to convert, cohort lifetime value, churn cohorts, new vs returning
users, heavy users, rolling weekly actives and stickiness.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import dec, dec_sql
from ..sources.readers import load_table
from .catalog import register


# ---------------------------------------------------------------------------
# q61 — signup→purchase funnel: users whose first purchase follows their
# first signup, with conversion delay. Conditional min-aggregation — one
# shuffle on user_id, no self-join.
# ---------------------------------------------------------------------------
@register(
    "q61_event_funnel",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'signup' THEN epoch(ts) END) AS first_signup,
             MIN(CASE WHEN event_type = 'purchase' THEN epoch(ts) END) AS first_purchase
      FROM events GROUP BY user_id)
    SELECT user_id,
           CAST(floor(first_signup) AS BIGINT) AS first_signup_s,
           CAST(floor(first_purchase) AS BIGINT) AS first_purchase_s,
           CAST(floor(first_purchase) AS BIGINT) - CAST(floor(first_signup) AS BIGINT) AS delay_s
    FROM per_user
    WHERE first_signup IS NOT NULL AND first_purchase IS NOT NULL
      AND first_purchase > first_signup
    """,
)
def q61_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("fs"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("fp"),
    )
    return (
        per_user.filter(F.col("fs").isNotNull() & F.col("fp").isNotNull() & (F.col("fp") > F.col("fs")))
        .select(
            "user_id",
            F.col("fs").cast("long").alias("first_signup_s"),
            F.col("fp").cast("long").alias("first_purchase_s"),
            (F.col("fp").cast("long") - F.col("fs").cast("long")).alias("delay_s"),
        )
    )


# ---------------------------------------------------------------------------
# q150 — rolling 7-day distinct users (WAU per day). Spark has no
# COUNT(DISTINCT) OVER a range frame, so the engine uses the bounded-
# explode rewrite: dedupe to (user, day), fan each row out to the ≤7
# target days it contributes to, then an exact per-day distinct count.
# Explode factor = window length (a plan constant), so this is linear —
# the shape that replaces the unsupported windowed distinct at 100 TB.
# Day is epoch-day arithmetic (timezone-free), output clipped to days
# that actually have events (INNER join to the observed-day set).
# ---------------------------------------------------------------------------
@register(
    "q150_rolling_wau",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
    days AS (SELECT DISTINCT day FROM ud),
    fan AS (
      SELECT d.day AS target_day, ud.user_id
      FROM ud JOIN days d ON d.day BETWEEN ud.day AND ud.day + 6)
    SELECT target_day AS epoch_day, COUNT(DISTINCT user_id) AS wau
    FROM fan GROUP BY target_day
    """,
)
def q150_rolling_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    day = (F.unix_micros("ts") / F.lit(86400000000)).cast("bigint")
    ud = ev.select("user_id", day.alias("day")).distinct()
    fanned = ud.select(
        "user_id", F.explode(F.sequence(F.col("day"), F.col("day") + 6)).alias("target_day")
    )
    days = ud.select("day").distinct().withColumnRenamed("day", "target_day")
    return (
        fanned.join(F.broadcast(days), "target_day")
        .groupBy(F.col("target_day").alias("epoch_day"))
        .agg(F.count_distinct("user_id").alias("wau"))
    )


# ---------------------------------------------------------------------------
# q155 — strict ORDERED funnel with per-step conversion windows (q61 is
# the unordered 2-step variant): signup → first view STRICTLY AFTER the
# signup within 7 days → first purchase strictly after that view within
# 7 days. Staged conditional aggregation: stage k's anchor is joined
# back (shuffle on user_id) and stage k+1 is a conditional MIN against
# it — the scalable alternative to per-user event-array folds, and each
# step is one grouped pass. Full-precision microsecond comparisons.
# ---------------------------------------------------------------------------
_FUNNEL_STEP_US = 7 * 86400 * 1_000_000


@register(
    "q155_ordered_funnel",
    oracle=f"""
    WITH t1 AS (
      SELECT user_id, MIN(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END) AS s
      FROM events GROUP BY user_id),
    t2 AS (
      SELECT e.user_id, MIN(epoch_us(e.ts)) AS v
      FROM events e JOIN t1 ON e.user_id = t1.user_id
      WHERE e.event_type = 'view' AND t1.s IS NOT NULL
        AND epoch_us(e.ts) > t1.s AND epoch_us(e.ts) <= t1.s + {_FUNNEL_STEP_US}
      GROUP BY e.user_id),
    t3 AS (
      SELECT e.user_id, MIN(epoch_us(e.ts)) AS p
      FROM events e JOIN t2 ON e.user_id = t2.user_id
      WHERE e.event_type = 'purchase'
        AND epoch_us(e.ts) > t2.v AND epoch_us(e.ts) <= t2.v + {_FUNNEL_STEP_US}
      GROUP BY e.user_id)
    SELECT 'signup' AS stage, COUNT(*) AS n_users FROM t1 WHERE s IS NOT NULL
    UNION ALL SELECT 'view_within_7d', COUNT(*) FROM t2
    UNION ALL SELECT 'purchase_within_7d', COUNT(*) FROM t3
    """,
)
def q155_ordered_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("tu")
    )
    t1 = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("tu"))).alias("s")
    ).filter(F.col("s").isNotNull())
    t2 = (
        ev.filter(F.col("event_type") == "view")
        .join(t1, "user_id")
        .filter((F.col("tu") > F.col("s")) & (F.col("tu") <= F.col("s") + _FUNNEL_STEP_US))
        .groupBy("user_id")
        .agg(F.min("tu").alias("v"))
    )
    t3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(t2, "user_id")
        .filter((F.col("tu") > F.col("v")) & (F.col("tu") <= F.col("v") + _FUNNEL_STEP_US))
        .groupBy("user_id")
        .agg(F.min("tu").alias("p"))
    )

    def stage(df: DataFrame, name: str) -> DataFrame:
        return df.groupBy().agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(name).alias("stage"), "n_users"
        )

    return (
        stage(t1, "signup")
        .unionAll(stage(t2, "view_within_7d"))
        .unionAll(stage(t3, "purchase_within_7d"))
    )


# ---------------------------------------------------------------------------
# q163 — stickiness (DAU/WAU): the product-analytics companion of q150 —
# per day, distinct daily actives over distinct trailing-7-day actives,
# via the same bounded-explode rewrite (no windowed COUNT DISTINCT in
# any engine). Ratio rounded from exact integer counts.
# ---------------------------------------------------------------------------
@register(
    "q163_stickiness",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
    days AS (SELECT DISTINCT day FROM ud),
    dau AS (SELECT day, COUNT(*) AS dau FROM ud GROUP BY day),
    fan AS (
      SELECT d.day AS target_day, ud.user_id
      FROM ud JOIN days d ON d.day BETWEEN ud.day AND ud.day + 6),
    wau AS (SELECT target_day AS day, COUNT(DISTINCT user_id) AS wau FROM fan GROUP BY target_day)
    SELECT dau.day AS epoch_day, dau.dau, wau.wau,
           ROUND(CAST(dau.dau AS DOUBLE) / wau.wau, 6) AS stickiness
    FROM dau JOIN wau ON dau.day = wau.day
    """,
)
def q163_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    day = (F.unix_micros("ts") / F.lit(86400000000)).cast("bigint")
    ud = ev.select("user_id", day.alias("day")).distinct()
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    days = ud.select("day").distinct().withColumnRenamed("day", "target_day")
    wau = (
        ud.select(
            "user_id", F.explode(F.sequence(F.col("day"), F.col("day") + 6)).alias("target_day")
        )
        .join(F.broadcast(days), "target_day")
        .groupBy(F.col("target_day").alias("day"))
        .agg(F.count_distinct("user_id").alias("wau"))
    )
    return dau.join(wau, "day").select(
        F.col("day").alias("epoch_day"),
        "dau",
        "wau",
        F.round(F.col("dau").cast("double") / F.col("wau"), 6).alias("stickiness"),
    )


# ---------------------------------------------------------------------------
# q172 — RFM segmentation (recency / frequency / monetary quintiles):
# per customer, days since last order (vs the global latest order day),
# order count, and exact-DECIMAL revenue; each scored into NTILE(5)
# with a fully deterministic tie-break (metric, then custkey). One
# groupBy shuffle + three windows over the same small per-customer
# frame; the 1-row global max is broadcast. Segment ids like '5-4-5'
# are the classic CRM export.
# NTILE ordering note: recency ASC (recent buyers score low r_days →
# bucket 1), frequency/monetary DESC (big spenders → bucket 1). The
# DECIMAL monetary value (not the rounded double) feeds the ordering so
# both engines rank identical values identically.
# ---------------------------------------------------------------------------
@register(
    "q172_rfm_segments",
    oracle=f"""
    WITH per_cust AS (
      SELECT o_custkey AS custkey,
             MAX(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))) AS last_day,
             COUNT(*) AS frequency,
             SUM({dec_sql("o_totalprice")}) AS monetary_dec
      FROM orders GROUP BY o_custkey),
    g AS (SELECT MAX(last_day) AS global_day FROM per_cust),
    scored AS (
      SELECT custkey,
             CAST(g.global_day - last_day AS BIGINT) AS recency_days,
             CAST(frequency AS BIGINT) AS frequency,
             monetary_dec,
             NTILE(5) OVER (ORDER BY (g.global_day - last_day) ASC, custkey ASC) AS r_score,
             NTILE(5) OVER (ORDER BY frequency DESC, custkey ASC) AS f_score,
             NTILE(5) OVER (ORDER BY monetary_dec DESC, custkey ASC) AS m_score
      FROM per_cust CROSS JOIN g)
    SELECT custkey, recency_days, frequency,
           CAST(monetary_dec AS DOUBLE) AS monetary,
           CAST(r_score AS INT) AS r_score,
           CAST(f_score AS INT) AS f_score,
           CAST(m_score AS INT) AS m_score,
           r_score || '-' || f_score || '-' || m_score AS segment
    FROM scored
    """,
)
def q172_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max(F.datediff(F.col("o_orderdate"), F.lit("1970-01-01")))
        .cast("bigint")
        .alias("last_day"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(dec("o_totalprice")).alias("monetary_dec"),
    )
    g = per_cust.groupBy().agg(F.max("last_day").alias("global_day"))
    scored = per_cust.crossJoin(F.broadcast(g)).withColumn(
        "recency_days", (F.col("global_day") - F.col("last_day")).cast("bigint")
    )
    w_r = Window.orderBy(F.asc("recency_days"), F.asc("custkey"))
    w_f = Window.orderBy(F.desc("frequency"), F.asc("custkey"))
    w_m = Window.orderBy(F.desc("monetary_dec"), F.asc("custkey"))
    return scored.select(
        "custkey",
        "recency_days",
        F.col("frequency").cast("bigint").alias("frequency"),
        F.col("monetary_dec").cast("double").alias("monetary"),
        F.ntile(5).over(w_r).cast("int").alias("r_score"),
        F.ntile(5).over(w_f).cast("int").alias("f_score"),
        F.ntile(5).over(w_m).cast("int").alias("m_score"),
    ).withColumn(
        "segment",
        F.concat_ws("-", F.col("r_score"), F.col("f_score"), F.col("m_score")),
    )


# ---------------------------------------------------------------------------
# q173 — longest activity streak per user (gaps-and-islands over
# *distinct active days*): day = floor(epoch)/86400 integer UTC day
# (never session-tz to_date), island id = day - row_number, streak =
# island size. Output per user: longest streak, total active days, and
# whether the longest streak touches the user's last active day
# ("current streak" flag). Two shuffles: the distinct and the per-user
# window — both partition by user_id, so AQE coalesces them; no global
# sort anywhere.
# ---------------------------------------------------------------------------
@register(
    "q173_activity_streaks",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id,
             CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
      FROM events),
    isl AS (
      SELECT user_id, day,
             day - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS grp
      FROM days),
    streaks AS (
      SELECT user_id, grp, COUNT(*) AS len, MAX(day) AS streak_end
      FROM isl GROUP BY user_id, grp),
    marked AS (
      SELECT user_id, len, streak_end,
             MAX(streak_end) OVER (PARTITION BY user_id) AS last_active
      FROM streaks)
    SELECT user_id,
           CAST(MAX(len) AS BIGINT) AS longest_streak,
           CAST(SUM(len) AS BIGINT) AS active_days,
           CAST(MAX(CASE WHEN streak_end = last_active THEN len ELSE 0 END) AS BIGINT)
             AS current_streak
    FROM marked
    GROUP BY user_id
    """,
)
def q173_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    days = ev.select(
        "user_id", (F.col("ts").cast("long") / F.lit(86400)).cast("bigint").alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    isl = days.withColumn("grp", F.col("day") - F.row_number().over(w))
    streaks = isl.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).alias("len"), F.max("day").alias("streak_end")
    )
    marked = streaks.withColumn(
        "last_active", F.max("streak_end").over(Window.partitionBy("user_id"))
    )
    return (
        marked.groupBy("user_id")
        .agg(
            F.max("len").cast("bigint").alias("longest_streak"),
            F.sum("len").cast("bigint").alias("active_days"),
            F.max(
                F.when(F.col("streak_end") == F.col("last_active"), F.col("len")).otherwise(
                    F.lit(0)
                )
            )
            .cast("bigint")
            .alias("current_streak"),
        )
    )


# ---------------------------------------------------------------------------
# q188 — time-to-convert distribution (signup -> first purchase per
# user): per-user deltas in full-precision seconds, then exact p25 /
# median / p75 selected BY RANK over the per-user frame (never an
# engine-native interpolating percentile, whose interpolation rules
# differ) — the lower-median convention: element at ceil(q*n) in
# (delta, user_id) order. Per-user step is one key-partitioned
# min-aggregate; the quantile step runs on the dimension-bounded
# per-user frame.
# ---------------------------------------------------------------------------
@register(
    "q188_time_to_convert",
    oracle="""
    WITH s AS (SELECT user_id, MIN(epoch(ts)) AS t0 FROM events
               WHERE event_type = 'signup' GROUP BY user_id),
    p AS (SELECT e.user_id, MIN(epoch(e.ts)) AS t1
          FROM events e JOIN s ON e.user_id = s.user_id
          WHERE e.event_type = 'purchase' AND epoch(e.ts) >= s.t0
          GROUP BY e.user_id),
    d AS (SELECT s.user_id, CAST(floor(p.t1 - s.t0) AS BIGINT) AS delta_s
          FROM s JOIN p ON s.user_id = p.user_id),
    r AS (SELECT delta_s,
                 ROW_NUMBER() OVER (ORDER BY delta_s, user_id) AS rn,
                 COUNT(*) OVER () AS n
          FROM d)
    SELECT CAST(MAX(n) AS BIGINT) AS n_converted,
           CAST(MAX(CASE WHEN rn = CAST(ceil(0.25 * n) AS BIGINT) THEN delta_s END) AS BIGINT) AS p25_s,
           CAST(MAX(CASE WHEN rn = CAST(ceil(0.50 * n) AS BIGINT) THEN delta_s END) AS BIGINT) AS median_s,
           CAST(MAX(CASE WHEN rn = CAST(ceil(0.75 * n) AS BIGINT) THEN delta_s END) AS BIGINT) AS p75_s
    FROM r
    """,
)
def q188_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # full-precision epoch seconds: integer microseconds / 1e6 (double is
    # exact enough here and matches DuckDB's epoch())
    t = (F.unix_micros(F.col("ts")).cast("double") / 1e6)
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(t).alias("t0"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", t.alias("t1"))
        .join(s, "user_id")
        .filter(F.col("t1") >= F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("t1").alias("t1"))
    )
    d = s.join(p, "user_id").select(
        "user_id", F.floor(F.col("t1") - F.col("t0")).cast("bigint").alias("delta_s")
    )
    r = d.select(
        "delta_s",
        F.row_number().over(Window.orderBy("delta_s", "user_id")).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
    )

    def at(q: float) -> F.Column:
        return F.max(
            F.when(F.col("rn") == F.ceil(F.lit(q) * F.col("n")).cast("bigint"), F.col("delta_s"))
        ).cast("bigint")

    return r.groupBy().agg(
        F.max("n").cast("bigint").alias("n_converted"),
        at(0.25).alias("p25_s"),
        at(0.50).alias("median_s"),
        at(0.75).alias("p75_s"),
    )


# ---------------------------------------------------------------------------
# q192 — cohort LTV curve (cumulative revenue by customer-age; the
# monetary counterpart of q101's retention counts): customers cohorted
# by first-order month (integer UTC month index — never session-tz
# date parts), every order binned by months-since-first, and each
# (cohort, age) cell reports cumulative revenue per cohort member. Two
# key-partitioned aggregates + one running window over the tiny
# (cohort x age) rollup; cohort sizes join back broadcast.
# ---------------------------------------------------------------------------
@register(
    "q192_cohort_ltv",
    oracle=f"""
    WITH om AS (
      SELECT o_custkey AS custkey,
             {dec_sql("o_totalprice")} AS rev,
             date_diff('month', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS mo
      FROM orders),
    first_mo AS (SELECT custkey, MIN(mo) AS cohort FROM om GROUP BY custkey),
    sizes AS (SELECT cohort, COUNT(*) AS cohort_n FROM first_mo GROUP BY cohort),
    cells AS (
      SELECT f.cohort, om.mo - f.cohort AS age, SUM(om.rev) AS rev
      FROM om JOIN first_mo f ON om.custkey = f.custkey
      GROUP BY f.cohort, age),
    cum AS (
      SELECT cohort, age,
             SUM(rev) OVER (PARTITION BY cohort ORDER BY age
                            ROWS UNBOUNDED PRECEDING) AS cum_rev
      FROM cells)
    SELECT CAST(c.cohort AS INT) AS cohort, CAST(c.age AS INT) AS age,
           CAST(s.cohort_n AS BIGINT) AS cohort_n,
           CAST(ROUND(c.cum_rev, 2) AS DOUBLE) AS cum_revenue,
           ROUND(CAST(c.cum_rev AS DOUBLE) / s.cohort_n, 6) AS ltv_per_customer
    FROM cum c JOIN sizes s ON c.cohort = s.cohort
    """,
)
def q192_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    om = orders.select(
        F.col("o_custkey").alias("custkey"),
        dec("o_totalprice").alias("rev"),
        (
            (F.year("o_orderdate") - F.lit(1970)) * 12 + F.month("o_orderdate") - 1
        ).alias("mo"),
    )
    first_mo = om.groupBy("custkey").agg(F.min("mo").alias("cohort"))
    sizes = first_mo.groupBy("cohort").agg(F.count(F.lit(1)).alias("cohort_n"))
    cells = (
        om.join(first_mo, "custkey")
        .groupBy("cohort", (F.col("mo") - F.col("cohort")).alias("age"))
        .agg(F.sum("rev").alias("rev"))
    )
    w = Window.partitionBy("cohort").orderBy("age").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = cells.select("cohort", "age", F.sum("rev").over(w).alias("cum_rev"))
    return cum.join(F.broadcast(sizes), "cohort").select(
        F.col("cohort").cast("int").alias("cohort"),
        F.col("age").cast("int").alias("age"),
        F.col("cohort_n").cast("bigint").alias("cohort_n"),
        F.round(F.col("cum_rev"), 2).cast("double").alias("cum_revenue"),
        F.round(F.col("cum_rev").cast("double") / F.col("cohort_n"), 6).alias("ltv_per_customer"),
    )


# ---------------------------------------------------------------------------
# q205 — churn cohorts (active-base retention snapshot): the timeline's
# last 20% (by full-precision epoch span) is the "recent" window; every
# user active before it is classified churned / retained by whether
# they reappear inside it, segmented by their lifetime event count
# tercile (light/mid/heavy). Global min/max ride a broadcast 1-row
# frame; per-user rollup is one groupBy; terciles are NTILE over the
# per-user frame with custkey-style tie-breaks.
# ---------------------------------------------------------------------------
@register(
    "q205_churn_cohorts",
    oracle="""
    WITH g AS (SELECT MIN(epoch(ts)) AS t0, MAX(epoch(ts)) AS t1 FROM events),
    per_user AS (
      SELECT e.user_id,
             COUNT(*) AS n_events,
             MAX(CASE WHEN epoch(e.ts) >= g.t1 - (g.t1 - g.t0) * 0.2 THEN 1 ELSE 0 END) AS active_recent,
             MAX(CASE WHEN epoch(e.ts) <  g.t1 - (g.t1 - g.t0) * 0.2 THEN 1 ELSE 0 END) AS active_before
      FROM events e CROSS JOIN g GROUP BY e.user_id),
    t AS (SELECT user_id, n_events, active_recent,
                 NTILE(3) OVER (ORDER BY n_events ASC, user_id ASC) AS tercile
          FROM per_user WHERE active_before = 1)
    SELECT CAST(tercile AS INT) AS usage_tercile,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(CASE WHEN active_recent = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_churned,
           ROUND(CAST(SUM(CASE WHEN active_recent = 0 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS churn_rate
    FROM t GROUP BY tercile
    """,
)
def q205_churn_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    t = F.unix_micros(F.col("ts")).cast("double") / 1e6
    g = ev.groupBy().agg(F.min(t).alias("t0"), F.max(t).alias("t1"))
    cut = F.col("t1") - (F.col("t1") - F.col("t0")) * 0.2
    per_user = (
        ev.crossJoin(F.broadcast(g))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max(F.when(t >= cut, 1).otherwise(0)).alias("active_recent"),
            F.max(F.when(t < cut, 1).otherwise(0)).alias("active_before"),
        )
    )
    tt = per_user.filter(F.col("active_before") == 1).select(
        "user_id",
        "n_events",
        "active_recent",
        F.ntile(3).over(Window.orderBy(F.asc("n_events"), F.asc("user_id"))).alias("tercile"),
    )
    churned = F.sum(F.when(F.col("active_recent") == 0, 1).otherwise(0))
    return tt.groupBy("tercile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        churned.cast("bigint").alias("n_churned"),
        F.round(churned.cast("double") / F.count(F.lit(1)), 6).alias("churn_rate"),
    ).select(
        F.col("tercile").cast("int").alias("usage_tercile"),
        "n_users",
        "n_churned",
        "churn_rate",
    )


# ---------------------------------------------------------------------------
# q220 — new vs returning users per day (the growth-accounting daily
# split): a user's first-seen day comes from one per-user min; each
# (day, user) activity row is then classed new/returning and rolled up.
# Two key-partitioned aggregates; the first-seen frame joins back on
# user_id (broadcast at dimension scale).
# ---------------------------------------------------------------------------
@register(
    "q220_new_vs_returning",
    oracle="""
    WITH act AS (
      SELECT DISTINCT user_id, CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
      FROM events),
    first_seen AS (SELECT user_id, MIN(day) AS d0 FROM act GROUP BY user_id)
    SELECT a.day,
           CAST(SUM(CASE WHEN a.day = f.d0 THEN 1 ELSE 0 END) AS BIGINT) AS new_users,
           CAST(SUM(CASE WHEN a.day > f.d0 THEN 1 ELSE 0 END) AS BIGINT) AS returning_users,
           ROUND(CAST(SUM(CASE WHEN a.day > f.d0 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS returning_share
    FROM act a JOIN first_seen f ON a.user_id = f.user_id
    GROUP BY a.day
    """,
)
def q220_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    act = ev.select(
        "user_id", (F.col("ts").cast("long") / 86400).cast("bigint").alias("day")
    ).distinct()
    first_seen = act.groupBy("user_id").agg(F.min("day").alias("d0"))
    new_c = F.sum(F.when(F.col("day") == F.col("d0"), 1).otherwise(0))
    ret_c = F.sum(F.when(F.col("day") > F.col("d0"), 1).otherwise(0))
    return (
        act.join(first_seen, "user_id")
        .groupBy("day")
        .agg(
            new_c.cast("bigint").alias("new_users"),
            ret_c.cast("bigint").alias("returning_users"),
            F.round(ret_c.cast("double") / F.count(F.lit(1)), 6).alias("returning_share"),
        )
    )


# ---------------------------------------------------------------------------
# q230 — heavy-user concentration (the q180 Pareto idea on the user
# axis, as a single-row KPI): share of all events produced by the
# top-1% / top-10% of users by event count (rank-exact cutoffs,
# ceil(q*n) users). Windows run over the per-user rollup.
# ---------------------------------------------------------------------------
@register(
    "q230_heavy_users",
    oracle="""
    WITH per_user AS (
      SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id),
    r AS (
      SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, user_id ASC) AS rn,
             COUNT(*) OVER () AS n_users, SUM(n) OVER () AS total
      FROM per_user)
    SELECT CAST(MAX(n_users) AS BIGINT) AS n_users,
           CAST(MAX(total) AS BIGINT) AS n_events,
           ROUND(CAST(SUM(CASE WHEN rn <= CAST(ceil(0.01 * n_users) AS BIGINT) THEN n ELSE 0 END) AS DOUBLE)
                 / MAX(total), 6) AS top1pct_share,
           ROUND(CAST(SUM(CASE WHEN rn <= CAST(ceil(0.10 * n_users) AS BIGINT) THEN n ELSE 0 END) AS DOUBLE)
                 / MAX(total), 6) AS top10pct_share
    FROM r
    """,
)
def q230_heavy_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    w = Window.orderBy(F.desc("n"), F.asc("user_id"))
    wall = Window.partitionBy()
    r = per_user.select(
        "n",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wall).alias("n_users"),
        F.sum("n").over(wall).alias("total"),
    )

    def topshare(q: float) -> F.Column:
        return F.round(
            F.sum(
                F.when(F.col("rn") <= F.ceil(F.lit(q) * F.col("n_users")).cast("bigint"), F.col("n")).otherwise(0)
            ).cast("double")
            / F.max("total"),
            6,
        )

    return r.groupBy().agg(
        F.max("n_users").cast("bigint").alias("n_users"),
        F.max("total").cast("bigint").alias("n_events"),
        topshare(0.01).alias("top1pct_share"),
        topshare(0.10).alias("top10pct_share"),
    )
