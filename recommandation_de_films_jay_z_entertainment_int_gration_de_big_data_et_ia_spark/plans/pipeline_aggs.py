"""Elasticsearch pipeline aggregations over the buckets of another
aggregation: rate, serial_diff/moving_fn, bucket_script/bucket_selector,
cumulative_cardinality, normalize, the sibling bucket aggregations,
moving percentiles, rollup totals, bucket_sort, bucket_count_ks_test and
bucket_correlation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import TOKS_SQL, tokens
from ..sources.readers import load_table
from .catalog import register


# ---------------------------------------------------------------------------
# q294 — ES `rate` aggregation: inside a monthly date_histogram, the
# event count and value sum re-scaled to a PER-DAY rate using the true
# length of each month (ES divides by the bucket's calendar interval).
# Value fold is the engine's exact-decimal convention (ROUND(v,6) ->
# DECIMAL(18,6) -> SUM); day counts are pure calendar integers.
#
# Shape (100 TB): one map-combinable shuffle keyed by month (~tens of
# buckets); the calendar arithmetic is scan-local.
# ---------------------------------------------------------------------------
@register(
    "q294_rate_agg",
    oracle="""
    WITH b AS (
      SELECT CAST(date_trunc('month', ts) AS DATE) AS m,
             CAST(ROUND(value, 6) AS DECIMAL(18,6)) AS v
      FROM events),
    agg AS (
      SELECT m, CAST(COUNT(*) AS BIGINT) AS n_events, SUM(v) AS sv,
             date_diff('day', m, m + INTERVAL 1 MONTH) AS days
      FROM b GROUP BY m)
    SELECT strftime(m, '%Y-%m') AS month, n_events,
           CAST(days AS BIGINT) AS days_in_month,
           ROUND(CAST(n_events AS DOUBLE) / days, 6) AS events_per_day,
           ROUND(CAST(sv AS DOUBLE) / days, 6) AS value_per_day
    FROM agg ORDER BY month
    """,
)
def q294_rate_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    m = F.trunc(F.col("ts").cast("date"), "month")
    b = ev.select(
        m.alias("m"), F.round("value", 6).cast("decimal(18,6)").alias("v")
    )
    agg = b.groupBy("m").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum("v").alias("sv"),
    )
    days = F.datediff(F.add_months(F.col("m"), 1), F.col("m"))
    return agg.select(
        F.date_format("m", "yyyy-MM").alias("month"),
        "n_events",
        days.cast("bigint").alias("days_in_month"),
        F.round(F.col("n_events").cast("double") / days, 6).alias("events_per_day"),
        F.round(F.col("sv").cast("double") / days, 6).alias("value_per_day"),
    ).orderBy("month")


# ---------------------------------------------------------------------------
# q296 — ES pipeline aggs `moving_fn` + `serial_diff` over a daily
# date_histogram per event_type: 7-bucket trailing moving average of
# the daily event count and the lag-7 serial difference. Counts are
# exact integers; the moving average divides two window integers once.
# Buckets without a full 7-day lag are omitted (ES emits them as
# null/skip buckets — the engine surfaces the defined ones).
#
# Shape (100 TB): one shuffle to the daily grid (map-combinable), then
# per-key window over ~365 rows/key/year — state is bounded by the
# calendar, not the event volume.
# ---------------------------------------------------------------------------
@register(
    "q296_serial_diff_moving",
    oracle="""
    WITH d AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY event_type, day),
    w AS (
      SELECT event_type, day, cnt,
             SUM(cnt) OVER (PARTITION BY event_type ORDER BY day
                            ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS s7,
             COUNT(*) OVER (PARTITION BY event_type ORDER BY day
                            ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS n7,
             LAG(cnt, 7) OVER (PARTITION BY event_type ORDER BY day) AS prev7
      FROM d)
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day, cnt,
           ROUND(CAST(s7 AS DOUBLE) / n7, 6) AS mov7_avg,
           CAST(cnt - prev7 AS BIGINT) AS serial_diff7
    FROM w WHERE prev7 IS NOT NULL
    ORDER BY event_type, day
    """,
)
def q296_serial_diff_moving(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    d = (
        ev.select("event_type", F.col("ts").cast("date").alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    wspec = Window.partitionBy("event_type").orderBy("day")
    w7 = wspec.rowsBetween(-6, 0)
    w = d.select(
        "event_type",
        "day",
        "cnt",
        F.sum("cnt").over(w7).alias("s7"),
        F.count(F.lit(1)).over(w7).alias("n7"),
        F.lag("cnt", 7).over(wspec).alias("prev7"),
    )
    return (
        w.filter(F.col("prev7").isNotNull())
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "cnt",
            F.round(F.col("s7").cast("double") / F.col("n7"), 6).alias("mov7_avg"),
            (F.col("cnt") - F.col("prev7")).cast("bigint").alias("serial_diff7"),
        )
        .orderBy("event_type", "day")
    )


# ---------------------------------------------------------------------------
# q307 — ES pipeline aggs `bucket_script` + `bucket_selector`: monthly
# order buckets get a derived metric (avg order value = exact decimal
# sum / count) via bucket_script, then bucket_selector keeps only
# months with >= 25 orders. Completes the q276 pipeline-agg family
# (cumulative_sum/derivative/moving_fn) with the scripted pair.
#
# Shape (100 TB): one map-combinable monthly shuffle; script+selector
# are post-aggregation row-local arithmetic on ~tens of buckets.
# ---------------------------------------------------------------------------
@register(
    "q307_bucket_script_selector",
    oracle="""
    WITH m AS (
      SELECT strftime(CAST(date_trunc('month', o_orderdate) AS DATE), '%Y-%m')
               AS month,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS total
      FROM orders GROUP BY 1)
    SELECT month, n_orders,
           ROUND(CAST(total AS DOUBLE), 2) AS revenue,
           ROUND(CAST(total AS DOUBLE) / n_orders, 6) AS avg_order_value
    FROM m WHERE n_orders >= 25 ORDER BY month
    """,
)
def q307_bucket_script_selector(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    m = (
        orders.groupBy(
            F.date_format(F.trunc(F.col("o_orderdate"), "month"), "yyyy-MM").alias("month")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(38,2)")).alias("total"),
        )
    )
    return (
        m.filter(F.col("n_orders") >= 25)
        .select(
            "month",
            "n_orders",
            F.round(F.col("total").cast("double"), 2).alias("revenue"),
            F.round(F.col("total").cast("double") / F.col("n_orders"), 6).alias(
                "avg_order_value"
            ),
        )
        .orderBy("month")
    )


# ---------------------------------------------------------------------------
# q308 — ES `cumulative_cardinality` pipeline agg, EXACT: per day, how
# many distinct users have been seen up to and including that day. The
# distributed-exact formulation is the first-seen trick — min(day) per
# user (one shuffle keyed by user), then a daily count + running sum
# over the (tiny) daily grid — never a growing distinct-state window.
#
# Shape (100 TB): shuffle #1 keyed by user_id (map-combinable min),
# shuffle #2 to the ~365-row daily grid; the cumulative window runs on
# the grid, not the events.
# ---------------------------------------------------------------------------
@register(
    "q308_cumulative_cardinality",
    oracle="""
    WITH fs AS (
      SELECT user_id, MIN(CAST(date_trunc('day', ts) AS DATE)) AS first_day
      FROM events GROUP BY user_id),
    d AS (SELECT first_day, CAST(COUNT(*) AS BIGINT) AS new_users
          FROM fs GROUP BY first_day)
    SELECT strftime(first_day, '%Y-%m-%d') AS day, new_users,
           CAST(SUM(new_users) OVER (ORDER BY first_day
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users
    FROM d ORDER BY day
    """,
)
def q308_cumulative_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    fs = ev.groupBy("user_id").agg(F.min(F.col("ts").cast("date")).alias("first_day"))
    d = fs.groupBy("first_day").agg(F.count(F.lit(1)).cast("bigint").alias("new_users"))
    w = Window.orderBy("first_day").rowsBetween(Window.unboundedPreceding, 0)
    return d.select(
        F.date_format("first_day", "yyyy-MM-dd").alias("day"),
        "new_users",
        F.sum("new_users").over(w).cast("bigint").alias("cum_users"),
    ).orderBy("day")


# ---------------------------------------------------------------------------
# q309 — ES `normalize` pipeline agg (method=percent_of_sum): each
# monthly event-count bucket as a percentage of the total, plus the
# 0-100 min-max rescale (method=rescale_0_100 — ES's other normalizer).
# Exact integer counts; two double divides at the end.
#
# Shape (100 TB): one monthly shuffle; the total/min/max come from a
# 1-row broadcast over the tiny bucket frame.
# ---------------------------------------------------------------------------
@register(
    "q309_normalize_agg",
    oracle="""
    WITH m AS (
      SELECT strftime(CAST(date_trunc('month', ts) AS DATE), '%Y-%m') AS month,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1),
    s AS (SELECT SUM(cnt) AS total, MIN(cnt) AS lo, MAX(cnt) AS hi FROM m)
    SELECT month, cnt,
           ROUND(100.0 * cnt / s.total, 6) AS percent_of_sum,
           ROUND(CASE WHEN s.hi = s.lo THEN 0.0
                 ELSE 100.0 * (cnt - s.lo) / (s.hi - s.lo) END, 6) AS rescale_0_100
    FROM m, s ORDER BY month
    """,
)
def q309_normalize_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    m = (
        ev.select(F.date_format(F.col("ts").cast("date"), "yyyy-MM").alias("month"))
        .groupBy("month")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    s = m.agg(
        F.sum("cnt").alias("total"), F.min("cnt").alias("lo"), F.max("cnt").alias("hi")
    )
    j = m.crossJoin(F.broadcast(s))
    rescale = F.when(F.col("hi") == F.col("lo"), F.lit(0.0)).otherwise(
        F.lit(100.0) * (F.col("cnt") - F.col("lo")) / (F.col("hi") - F.col("lo"))
    )
    return j.select(
        "month",
        "cnt",
        F.round(F.lit(100.0) * F.col("cnt") / F.col("total"), 6).alias("percent_of_sum"),
        F.round(rescale, 6).alias("rescale_0_100"),
    ).orderBy("month")


# ---------------------------------------------------------------------------
# q323 — ES sibling pipeline aggregations `stats_bucket` +
# `percentiles_bucket` over a month date_histogram of order revenue:
# the cross-bucket count/min/max/sum/avg plus exact linear-interpolated
# p25/p50/p75 of the monthly revenue values, emitted long-form
# (metric, value).
#
# Determinism: monthly revenue is an exact DECIMAL(18,2) sum; the
# percentile interpolation uses integer lo/fnum arithmetic ((n-1)*q
# DIV/MOD 4 — the q295 idiom, never float-derived ranks) over the
# sorted bucket array.
#
# Shape (100 TB): one shuffle to the month grain; every sibling agg
# then runs over the BUCKET FRAME (one row per month — calendar-bounded,
# ~80 values), exactly like the ES agg response the pipeline walks.
# ---------------------------------------------------------------------------
@register(
    "q323_sibling_bucket_aggs",
    oracle="""
    WITH monthly AS (
      SELECT date_trunc('month', o_orderdate) AS m,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
      FROM orders GROUP BY m),
    arr AS (
      SELECT list(rev ORDER BY rev) AS a, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(rev AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM monthly),
    pct AS (
      SELECT CAST(q AS BIGINT) AS q,
             a[CAST((n - 1) * q // 4 AS BIGINT) + 1] AS vlo,
             COALESCE(a[CAST((n - 1) * q // 4 AS BIGINT) + 2],
                      a[CAST((n - 1) * q // 4 AS BIGINT) + 1]) AS vhi,
             (n - 1) * q % 4 AS fnum
      FROM arr, (SELECT UNNEST([1, 2, 3]) AS q))
    SELECT metric, ROUND(value, 6) AS value FROM (
      SELECT 'count' AS metric, CAST(n AS DOUBLE) AS value FROM arr
      UNION ALL SELECT 'min', a[1] FROM arr
      UNION ALL SELECT 'max', a[n] FROM arr
      UNION ALL SELECT 'sum', total FROM arr
      UNION ALL SELECT 'avg', total / n FROM arr
      UNION ALL SELECT 'p' || CAST(q * 25 AS VARCHAR),
                       vlo + (vhi - vlo) * (CAST(fnum AS DOUBLE) / 4.0)
                FROM pct)
    ORDER BY metric
    """,
)
def q323_sibling_bucket_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(F.date_trunc("month", "o_orderdate").alias("m")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("rev")
    )
    arr = monthly.agg(
        F.sort_array(F.collect_list("rev")).alias("a"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("rev").cast("decimal(18,2)")).cast("double").alias("total"),
    )
    # ALL eight sibling metrics come out of ONE row-local explode over
    # the single 1-row `arr` frame — a stats/pct branch union would
    # re-execute the monthly + global aggregates per branch (two full
    # scans at 100 TB).
    def pctl(q: int) -> F.Column:
        vlo = F.expr(f"a[CAST((n - 1) * {q} DIV 4 AS INT)]")
        vhi = F.coalesce(F.expr(f"a[CAST((n - 1) * {q} DIV 4 AS INT) + 1]"), vlo)
        fnum = F.expr(f"(n - 1) * {q} % 4")
        return vlo + (vhi - vlo) * (fnum.cast("double") / F.lit(4.0))

    metrics = arr.select(
        F.explode(
            F.array(
                F.struct(F.lit("count").alias("metric"), F.col("n").cast("double").alias("value")),
                F.struct(F.lit("min").alias("metric"), F.element_at("a", 1).alias("value")),
                F.struct(F.lit("max").alias("metric"), F.element_at("a", F.col("n").cast("int")).alias("value")),
                F.struct(F.lit("sum").alias("metric"), F.col("total").alias("value")),
                F.struct(F.lit("avg").alias("metric"), (F.col("total") / F.col("n")).alias("value")),
                F.struct(F.lit("p25").alias("metric"), pctl(1).alias("value")),
                F.struct(F.lit("p50").alias("metric"), pctl(2).alias("value")),
                F.struct(F.lit("p75").alias("metric"), pctl(3).alias("value")),
            )
        ).alias("s")
    ).select("s.*")
    return metrics.select(
        "metric", F.round("value", 6).alias("value")
    ).orderBy("metric")


# ---------------------------------------------------------------------------
# q327 — ES `moving_percentiles` pipeline aggregation: exact p25/p50/
# p75 of the trailing 7 daily-event-count buckets, emitted for every
# day with a full 7-bucket window (ES skips partial windows the same
# way q296's moving_fn does).
#
# Determinism: the window is a FIXED 7 values, so the linear-
# interpolation ranks are Python-precomputed integers (lo = 6q DIV 4,
# fnum = 6q MOD 4 — the q295 idiom); counts are exact integers and the
# only float op is one multiply by fnum/4.
#
# Shape (100 TB): one shuffle to the daily grid (map-combinable),
# then a single-partition window over calendar-bounded rows — the
# bucket frame, not the event volume.
# ---------------------------------------------------------------------------
_MP_RANKS = {q: ((7 - 1) * q // 4, (7 - 1) * q % 4) for q in (1, 2, 3)}


def _mp_sql(q: int) -> str:
    lo, fnum = _MP_RANKS[q]
    expr = f"CAST(a[{lo + 1}] AS DOUBLE)"
    if fnum:
        expr = (
            f"(CAST(a[{lo + 1}] AS DOUBLE) + (CAST(a[{lo + 2}] AS DOUBLE)"
            f" - CAST(a[{lo + 1}] AS DOUBLE)) * {fnum / 4.0})"
        )
    return f"ROUND({expr}, 6)"


@register(
    "q327_moving_percentiles",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY d),
    w AS (
      SELECT d,
             list_sort(list(c) OVER (ORDER BY d
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS a,
             ROW_NUMBER() OVER (ORDER BY d) AS rn
      FROM daily)
    SELECT strftime(d, '%Y-%m-%d') AS day,
           {_mp_sql(1)} AS p25, {_mp_sql(2)} AS p50, {_mp_sql(3)} AS p75
    FROM w WHERE rn >= 7 ORDER BY day
    """,
)
def q327_moving_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    w = Window.orderBy("d")
    win = daily.select(
        "d",
        F.sort_array(F.collect_list("c").over(w.rowsBetween(-6, 0))).alias("a"),
        F.row_number().over(w).alias("rn"),
    )

    def mp(q: int) -> F.Column:
        lo, fnum = _MP_RANKS[q]
        base = F.element_at("a", lo + 1).cast("double")
        if fnum:
            hi = F.element_at("a", lo + 2).cast("double")
            base = base + (hi - base) * F.lit(fnum / 4.0)
        return F.round(base, 6)

    return (
        win.filter(F.col("rn") >= 7)
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            mp(1).alias("p25"), mp(2).alias("p50"), mp(3).alias("p75"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# q330 — multi-level totals in ONE pass: ROLLUP(source, lang) over the
# document corpus — per (source, lang), per source, and grand total,
# with doc count and exact token sum at every level. The dataset-card
# manifest shape every corpus release ships, and the Spark surface
# (df.rollup / GROUPING SETS) that computes N aggregation levels in a
# single shuffle instead of N scans.
#
# Determinism: counts/sums are exact integers; NULL grouping slots are
# COALESCEd to the explicit '(all)' label on both engines, and the
# grouping level is surfaced as an integer.
#
# Shape (100 TB): ONE map-combinable shuffle — Spark expands the
# rollup row-locally before the partial agg, so the three levels cost
# one pass, not three scans.
# ---------------------------------------------------------------------------
@register(
    "q330_rollup_totals",
    oracle=f"""
    SELECT COALESCE(source, '(all)') AS source,
           COALESCE(lang, '(all)') AS lang,
           CAST(GROUPING(source) * 2 + GROUPING(lang) AS BIGINT) AS lvl,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len({TOKS_SQL})) AS BIGINT) AS tokens
    FROM documents GROUP BY ROLLUP(source, lang)
    ORDER BY lvl, source, lang
    """,
)
def q330_rollup_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "source", "lang", F.size(tokens("text")).alias("n_toks")
    )
    return (
        docs.rollup("source", "lang")
        .agg(
            # grouping() is only resolvable inside the Aggregate node
            (F.grouping("source") * 2 + F.grouping("lang"))
            .cast("bigint")
            .alias("lvl"),
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_toks").cast("bigint").alias("tokens"),
        )
        .select(
            F.coalesce("source", F.lit("(all)")).alias("source"),
            F.coalesce("lang", F.lit("(all)")).alias("lang"),
            "lvl",
            "n_docs",
            "tokens",
        )
        .orderBy("lvl", "source", "lang")
    )


# ---------------------------------------------------------------------------
# q375 — ES `bucket_sort` pipeline aggregation: re-orders the parent
# terms buckets by a metric and truncates with from/size — the
# "page 2 of buckets" idiom. Buckets = event_type, metric = exact
# decimal value sum; sort desc (tie: key asc), from=1, size=3.
#
# Shape (100 TB): one map-combinable 5-group aggregate; the sort +
# offset/limit act on 5 rows — bucket_sort is always post-agg tiny.
# ---------------------------------------------------------------------------


@register(
    "q375_bucket_sort",
    oracle="""
    WITH b AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS doc_count,
             ROUND(CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(18,6)))
                        AS DOUBLE), 4) AS value_sum
      FROM events GROUP BY event_type)
    SELECT event_type, doc_count, value_sum
    FROM b ORDER BY value_sum DESC, event_type LIMIT 3 OFFSET 1
    """,
)
def q375_bucket_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    b = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("doc_count"),
        F.round(
            F.sum(F.round(F.col("value"), 6).cast("decimal(18,6)")).cast("double"),
            4,
        ).alias("value_sum"),
    )
    return (
        b.orderBy(F.desc("value_sum"), F.asc("event_type")).offset(1).limit(3)
    )


# ---------------------------------------------------------------------------
# q392 — ES `bucket_count_ks_test` pipeline aggregation: two-sample
# Kolmogorov-Smirnov over daily bucket counts for each pair of event
# types (view/click/purchase). The statistic
#     D = max_d |F1(d) - F2(d)|
# is evaluated EXACTLY by cross-multiplication: the per-day numerator
# |c1cum*n2 - c2cum*n1| is an integer; only the final division by
# n1*n2 is a double (correctly rounded, cross-engine identical).
# Argmax day reported with earliest-day tiebreak on the exact integer.
#
# Shape (100 TB): ONE map-combinable groupBy(day) with conditional
# counts (no per-pair rescan — the three series pivot out of a single
# pass), a single 3x-stack to pair rows, then per-pair windows over
# day-count frames (rows = days, thousands at most).
# ---------------------------------------------------------------------------
_KS_PAIRS = [("view", "click"), ("view", "purchase"), ("click", "purchase")]


def _ks_oracle() -> str:
    pair_rows = " UNION ALL ".join(
        f"""
        SELECT '{a}_vs_{b}' AS pair, d, day,
               ABS((c_{a} * n_{b}) - (c_{b} * n_{a})) AS num,
               n_{a} AS n_left, n_{b} AS n_right
        FROM w"""
        for a, b in _KS_PAIRS
    )
    return f"""
    WITH c AS (
      SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 86400) AS d,
             CAST(COUNT(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS v,
             CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS c,
             CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS p
      FROM events WHERE event_type IN ('view', 'click', 'purchase')
      GROUP BY 1),
    w AS (
      SELECT d, CAST((DATE '1970-01-01' + CAST(d AS INTEGER)) AS VARCHAR) AS day,
             SUM(v) OVER (ORDER BY d) AS c_view,
             SUM(c) OVER (ORDER BY d) AS c_click,
             SUM(p) OVER (ORDER BY d) AS c_purchase,
             SUM(v) OVER () AS n_view,
             SUM(c) OVER () AS n_click,
             SUM(p) OVER () AS n_purchase
      FROM c),
    pr AS MATERIALIZED ({pair_rows}),
    rk AS (
      SELECT pair, day, num, n_left, n_right,
             ROW_NUMBER() OVER (PARTITION BY pair ORDER BY num DESC, d) AS rk
      FROM pr)
    SELECT pair,
           ROUND(CAST(num AS DOUBLE) / (CAST(n_left AS DOUBLE) * n_right), 8)
             AS d_stat,
           day AS at_day,
           CAST(n_left AS BIGINT) AS n_left,
           CAST(n_right AS BIGINT) AS n_right
    FROM rk WHERE rk = 1 ORDER BY pair
    """


@register("q392_bucket_count_ks_test", oracle=_ks_oracle())
def q392_bucket_count_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "click", "purchase")
    )
    day = (F.col("ts").cast("long") / 86400).cast("bigint")
    c = ev.groupBy(day.alias("d")).agg(
        F.count_if(F.col("event_type") == "view").cast("bigint").alias("v"),
        F.count_if(F.col("event_type") == "click").cast("bigint").alias("c"),
        F.count_if(F.col("event_type") == "purchase").cast("bigint").alias("p"),
    )
    # Single-partition windows are safe here by construction: the frame
    # is one row per day (30 at sf0.01, ~10^4 at decade retention).
    ws = Window.partitionBy().orderBy("d")
    wa = Window.partitionBy()
    w = c.select(
        "d",
        F.date_from_unix_date(F.col("d").cast("int")).cast("string").alias("day"),
        F.sum("v").over(ws).alias("c_view"),
        F.sum("c").over(ws).alias("c_click"),
        F.sum("p").over(ws).alias("c_purchase"),
        F.sum("v").over(wa).alias("n_view"),
        F.sum("c").over(wa).alias("n_click"),
        F.sum("p").over(wa).alias("n_purchase"),
    )
    stack_args = ", ".join(
        f"'{a}_vs_{b}', abs((c_{a} * n_{b}) - (c_{b} * n_{a})), n_{a}, n_{b}"
        for a, b in _KS_PAIRS
    )
    pr = w.selectExpr(
        "d",
        "day",
        f"stack({len(_KS_PAIRS)}, {stack_args}) AS (pair, num, n_left, n_right)",
    )
    rk = F.row_number().over(
        Window.partitionBy("pair").orderBy(F.col("num").desc(), "d")
    )
    return (
        pr.withColumn("rk", rk)
        .filter(F.col("rk") == 1)
        .select(
            "pair",
            F.round(
                F.col("num").cast("double")
                / (F.col("n_left").cast("double") * F.col("n_right")),
                8,
            ).alias("d_stat"),
            F.col("day").alias("at_day"),
            F.col("n_left").cast("bigint").alias("n_left"),
            F.col("n_right").cast("bigint").alias("n_right"),
        )
        .orderBy("pair")
    )


# ---------------------------------------------------------------------------
# q393 — ES `bucket_correlation` pipeline aggregation: Pearson
# correlation between each event type's daily bucket counts and an
# indicator series (here is-weekend, the canonical seasonality probe).
# Buckets are the shared all-events day spine with zero-fill, produced
# by pivot-then-stack from ONE scan (no spine crossJoin, no cartesian);
# weekend is epoch-day arithmetic ((d+4)%7 in {0,6} — Sunday/Saturday,
# timezone-free, q130's discipline). r is closed-form from exact
# integer sums; the only doubles are the final three casts and one
# correctly-rounded sqrt.
#
# Shape (100 TB): one map-combinable groupBy(day), a 5x stack, one
# 5-group aggregate. No joins, no windows.
# ---------------------------------------------------------------------------
_BC_TYPES = ["view", "click", "purchase", "signup", "error"]


def _bc_oracle() -> str:
    counts = ", ".join(
        f"CAST(COUNT(*) FILTER (WHERE event_type = '{t}') AS BIGINT) AS c_{t}"
        for t in _BC_TYPES
    )
    rows = " UNION ALL ".join(
        f"SELECT '{t}' AS event_type, d, y, c_{t} AS x FROM c" for t in _BC_TYPES
    )
    return f"""
    WITH c AS (
      SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 86400) AS d,
             CASE WHEN ((CAST(floor(epoch(ts)) AS BIGINT) // 86400) + 4) % 7
                       IN (0, 6) THEN 1 ELSE 0 END AS y,
             {counts}
      FROM events GROUP BY 1, 2),
    s AS ({rows}),
    m AS (
      SELECT event_type, COUNT(*) AS n,
             SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * x) AS sxx, SUM(x * y) AS sxy
      FROM s GROUP BY event_type)
    SELECT event_type, CAST(n AS BIGINT) AS n_buckets,
           ROUND(CAST((n * sxy) - (sx * sy) AS DOUBLE)
                 / sqrt(CAST(((n * sxx) - (sx * sx)) AS DOUBLE)
                        * CAST(((n * sy) - (sy * sy)) AS DOUBLE)), 6)
             AS r_weekend
    FROM m ORDER BY event_type
    """


@register("q393_bucket_correlation", oracle=_bc_oracle())
def q393_bucket_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    day = (F.col("ts").cast("long") / 86400).cast("bigint")
    c = ev.groupBy(day.alias("d"), (((day + 4) % 7).isin(0, 6)).cast("int").alias("y")).agg(
        *[
            F.count_if(F.col("event_type") == t).cast("bigint").alias(f"c_{t}")
            for t in _BC_TYPES
        ]
    )
    stack_args = ", ".join(f"'{t}', c_{t}" for t in _BC_TYPES)
    s = c.selectExpr(
        "d", "y", f"stack({len(_BC_TYPES)}, {stack_args}) AS (event_type, x)"
    )
    m = s.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    num = ((F.col("n") * F.col("sxy")) - (F.col("sx") * F.col("sy"))).cast("double")
    den = F.sqrt(
        ((F.col("n") * F.col("sxx")) - (F.col("sx") * F.col("sx"))).cast("double")
        * ((F.col("n") * F.col("sy")) - (F.col("sy") * F.col("sy"))).cast("double")
    )
    return m.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_buckets"),
        F.round(num / den, 6).alias("r_weekend"),
    ).orderBy("event_type")
