"""Time-series forecasting and change detection: revenue forecast,
CUSUM drift, peak detection, autocorrelation, seasonal-naive backtest,
Holt smoothing and change points.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import dec, dec_sql, exact_sum, exact_sum_sql
from ..sources.readers import load_table
from .catalog import register


# ---------------------------------------------------------------------------
# q52 — selective scan aggregation (TPC-H Q6 shape: every predicate must
# reach the parquet scan as a pushed filter)
# ---------------------------------------------------------------------------
@register(
    "q52_forecast_revenue",
    oracle=f"""
    SELECT ROUND(CAST(SUM({dec_sql("l_extendedprice")} * {dec_sql("l_discount")}) AS DOUBLE), 2) AS promo_revenue,
           COUNT(*) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
)
def q52_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    t = li.schema["l_shipdate"].dataType
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast(t))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast(t))
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(dec("l_extendedprice") * dec("l_discount")).cast("double"), 2).alias("promo_revenue"),
            F.count(F.lit(1)).alias("n"),
        )
    )


# ---------------------------------------------------------------------------
# q183 — CUSUM change-point detection over hourly series (batch twin of
# the streaming EWMA family in streaming/stateful.py): per event_type,
# the one-sided CUSUM s_t = max(0, s_{t-1} + (x_t - mean)) over the
# hourly value sums, alarming when s_t > 3*stddev. The recursion is
# genuinely sequential, so the Spark side is an Arrow-batched
# applyInPandas over event_type groups — state per group is the HOURLY
# series (bounded: hours, not events; a year is 8,760 rows per key), and
# the heavy part (the hourly aggregate) is a plain map-side-combinable
# groupBy. mean/std are computed ENGINE-SIDE from exact decimal sums
# and joined into the series (never recomputed in pandas, whose
# fold order would differ); pandas only replays the identically-shaped
# max(0, s + (x - mean)) IEEE steps. Oracle: recursive CTE stepping all
# event_types in lockstep by hour rank.
# ---------------------------------------------------------------------------
@register(
    "q183_cusum_drift",
    oracle=f"""
    WITH RECURSIVE hourly AS (
      SELECT event_type,
             CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_s,
             {exact_sum_sql("value")} AS x
      FROM events GROUP BY event_type, hour_s),
    stats AS (
      SELECT event_type, COUNT(*) AS n,
             {exact_sum_sql("x")} AS sv,
             CAST(SUM({dec_sql("x")} * {dec_sql("x")}) AS DOUBLE) AS svv
      FROM hourly GROUP BY event_type),
    param AS (
      SELECT event_type, sv / n AS mean,
             sqrt((svv - sv * sv / n) / (n - 1)) AS sd
      FROM stats),
    seq AS (
      SELECT h.event_type, h.hour_s, h.x, p.mean, p.sd,
             ROW_NUMBER() OVER (PARTITION BY h.event_type ORDER BY h.hour_s) AS rn
      FROM hourly h JOIN param p ON h.event_type = p.event_type),
    walk AS (
      SELECT event_type, hour_s, x, mean, sd, rn,
             greatest(0.0, x - mean) AS s
      FROM seq WHERE rn = 1
      UNION ALL
      SELECT q.event_type, q.hour_s, q.x, q.mean, q.sd, q.rn,
             greatest(0.0, w.s + (q.x - q.mean)) AS s
      FROM seq q JOIN walk w ON q.event_type = w.event_type AND q.rn = w.rn + 1)
    SELECT event_type, hour_s, ROUND(x, 2) AS x, ROUND(s, 6) AS cusum,
           s > 3 * sd AS alarm
    FROM walk
    """,
)
def q183_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(
            "event_type",
            F.date_trunc("hour", F.col("ts")).cast("long").alias("hour_s"),
        )
        .agg(F.sum(dec("value")).alias("x_dec"))
        .select("event_type", "hour_s", F.col("x_dec").cast("double").alias("x"))
    )
    stats = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        exact_sum("x").alias("sv"),
        F.sum(dec("x") * dec("x")).cast("double").alias("svv"),
    )
    param = stats.select(
        "event_type",
        (F.col("sv") / F.col("n")).alias("mean"),
        F.sqrt((F.col("svv") - F.col("sv") * F.col("sv") / F.col("n")) / (F.col("n") - 1)).alias("sd"),
    )
    seq = hourly.join(F.broadcast(param), "event_type")

    def walk(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("hour_s").reset_index(drop=True)
        s = 0.0
        out = []
        for x, mean in zip(pdf["x"], pdf["mean"]):
            s = max(0.0, s + (x - mean))
            out.append(s)
        pdf["cusum"] = out
        pdf["alarm"] = pdf["cusum"] > 3 * pdf["sd"]
        return pdf[["event_type", "hour_s", "x", "cusum", "alarm"]]

    walked = seq.groupBy("event_type").applyInPandas(
        walk, schema="event_type string, hour_s bigint, x double, cusum double, alarm boolean"
    )
    # round outside the UDF (pandas .round is half-even; Spark/DuckDB
    # ROUND are half-away — same hazard q239 hit in testing)
    return walked.select(
        "event_type", "hour_s", F.round("x", 2).alias("x"),
        F.round("cusum", 6).alias("cusum"), "alarm",
    )


# ---------------------------------------------------------------------------
# q210 — peak detection over the daily series (ops-alerting primitive
# feeding q183's CUSUM): a day is a peak when its exact-DECIMAL value
# sum exceeds both neighbors AND 1.5x the 7-day trailing mean (current
# day excluded, full trailing window required). Lag/lead + one trailing
# frame over the per-type daily rollup; comparisons happen on the
# exact decimals, doubles appear only in the emitted columns.
# ---------------------------------------------------------------------------
@register(
    "q210_peak_detection",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
             SUM({dec_sql("value")}) AS y
      FROM events GROUP BY event_type, day),
    f AS (
      SELECT event_type, day, y,
             LAG(y) OVER w AS prev_y, LEAD(y) OVER w AS next_y,
             SUM(y) OVER (w ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS base7,
             COUNT(*) OVER (w ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS n7
      FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day))
    SELECT event_type, day,
           ROUND(CAST(y AS DOUBLE), 2) AS y,
           ROUND(CAST(base7 AS DOUBLE) / 7.0, 6) AS trailing_mean
    FROM f
    WHERE prev_y IS NOT NULL AND next_y IS NOT NULL AND n7 = 7
      AND y > prev_y AND y > next_y
      AND CAST(y AS DOUBLE) > 1.5 * (CAST(base7 AS DOUBLE) / 7.0)
    """,
)
def q210_peak_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", (F.col("ts").cast("long") / 86400).cast("bigint").alias("day")
    ).agg(F.sum(dec("value")).alias("y"))
    w = Window.partitionBy("event_type").orderBy("day")
    w7 = w.rowsBetween(-7, -1)
    f = daily.select(
        "event_type",
        "day",
        "y",
        F.lag("y").over(w).alias("prev_y"),
        F.lead("y").over(w).alias("next_y"),
        F.sum("y").over(w7).alias("base7"),
        F.count(F.lit(1)).over(w7).alias("n7"),
    )
    return f.filter(
        F.col("prev_y").isNotNull()
        & F.col("next_y").isNotNull()
        & (F.col("n7") == 7)
        & (F.col("y") > F.col("prev_y"))
        & (F.col("y") > F.col("next_y"))
        & (F.col("y").cast("double") > 1.5 * (F.col("base7").cast("double") / 7.0))
    ).select(
        "event_type",
        "day",
        F.round(F.col("y").cast("double"), 2).alias("y"),
        F.round(F.col("base7").cast("double") / 7.0, 6).alias("trailing_mean"),
    )


# ---------------------------------------------------------------------------
# q218 — autocorrelation of the daily series (forecasting diagnostics
# feeding q52/q191): per event_type, Pearson ACF at lags 1/2/7 computed
# by self-joining the daily rollup on (day - lag) and running the
# q176-style exact-decimal correlation per (type, lag). The rollup is
# day-bounded; each lag is one merge-join over it.
# ---------------------------------------------------------------------------
@register(
    "q218_autocorrelation",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
             {dec_sql(f"SUM({dec_sql('value')})")} AS y
      FROM events GROUP BY event_type, day),
    lags AS (SELECT 1 AS lag UNION ALL SELECT 2 UNION ALL SELECT 7),
    j AS (
      SELECT a.event_type, l.lag, a.y AS x, b.y AS z
      FROM daily a JOIN lags l ON TRUE
                   JOIN daily b ON a.event_type = b.event_type AND b.day = a.day - l.lag),
    s AS (
      SELECT event_type, lag, COUNT(*) AS n,
             CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(z) AS DOUBLE) AS sz,
             CAST(SUM(CAST(x AS DECIMAL(28,4)) * CAST(z AS DECIMAL(28,4))) AS DOUBLE) AS sxz,
             CAST(SUM(CAST(x AS DECIMAL(28,4)) * CAST(x AS DECIMAL(28,4))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(z AS DECIMAL(28,4)) * CAST(z AS DECIMAL(28,4))) AS DOUBLE) AS szz
      FROM j GROUP BY event_type, lag)
    SELECT event_type, CAST(lag AS INT) AS lag, CAST(n AS BIGINT) AS n,
           ROUND((n * sxz - sx * sz)
                 / (sqrt(n * sxx - sx * sx) * sqrt(n * szz - sz * sz)), 6) AS acf
    FROM s
    """,
)
def q218_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", (F.col("ts").cast("long") / 86400).cast("bigint").alias("day")
    ).agg(dec(F.sum(dec("value"))).alias("y"))
    lags = spark.range(1).select(F.explode(F.array(F.lit(1), F.lit(2), F.lit(7))).alias("lag"))
    a = daily.select("event_type", "day", F.col("y").alias("x"))
    b = daily.select(F.col("event_type").alias("et2"), F.col("day").alias("day2"), F.col("y").alias("z"))
    j = (
        a.crossJoin(F.broadcast(lags))
        .join(b, (F.col("event_type") == F.col("et2")) & (F.col("day2") == F.col("day") - F.col("lag")))
        .select("event_type", "lag", "x", "z")
    )
    d28 = lambda c: F.col(c).cast("decimal(28,4)")  # noqa: E731
    s = j.groupBy("event_type", "lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("z").cast("double").alias("sz"),
        F.sum(d28("x") * d28("z")).cast("double").alias("sxz"),
        F.sum(d28("x") * d28("x")).cast("double").alias("sxx"),
        F.sum(d28("z") * d28("z")).cast("double").alias("szz"),
    )
    return s.select(
        "event_type",
        F.col("lag").cast("int").alias("lag"),
        F.col("n").cast("bigint").alias("n"),
        F.round(
            (F.col("n") * F.col("sxz") - F.col("sx") * F.col("sz"))
            / (
                F.sqrt(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                * F.sqrt(F.col("n") * F.col("szz") - F.col("sz") * F.col("sz"))
            ),
            6,
        ).alias("acf"),
    )


# ---------------------------------------------------------------------------
# q219 — seasonal-naive backtest (the honest baseline every q52-style
# forecaster must beat): forecast(day) = actual(day-7); per event_type
# report MAE and MAPE over all scored days plus the naive lag-1
# comparison — the two-row-per-type "which baseline wins" table.
# Error terms are |exact decimal diffs| summed exactly; MAPE's ratio
# terms go through the q182 rounded-decimal discipline.
# ---------------------------------------------------------------------------
@register(
    "q219_seasonal_backtest",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
             SUM({dec_sql("value")}) AS y
      FROM events GROUP BY event_type, day),
    j AS (
      SELECT a.event_type, l.lag, a.y AS actual, b.y AS fc
      FROM daily a
      JOIN (SELECT 1 AS lag UNION ALL SELECT 7) l ON TRUE
      JOIN daily b ON a.event_type = b.event_type AND b.day = a.day - l.lag
      WHERE a.y > 0),
    t AS (
      SELECT event_type, lag,
             abs(actual - fc) AS ae,
             CAST(ROUND(CAST(abs(actual - fc) AS DOUBLE) / CAST(actual AS DOUBLE), 12)
                  AS DECIMAL(20,12)) AS ape
      FROM j)
    SELECT event_type, CAST(lag AS INT) AS lag, CAST(COUNT(*) AS BIGINT) AS n_days,
           ROUND(CAST(SUM(ae) AS DOUBLE) / COUNT(*), 6) AS mae,
           ROUND(CAST(SUM(ape) AS DOUBLE) / COUNT(*), 6) AS mape
    FROM t GROUP BY event_type, lag
    """,
)
def q219_seasonal_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", (F.col("ts").cast("long") / 86400).cast("bigint").alias("day")
    ).agg(F.sum(dec("value")).alias("y"))
    lags = spark.range(1).select(F.explode(F.array(F.lit(1), F.lit(7))).alias("lag"))
    a = daily.filter(F.col("y") > 0).select("event_type", "day", F.col("y").alias("actual"))
    b = daily.select(F.col("event_type").alias("et2"), F.col("day").alias("day2"), F.col("y").alias("fc"))
    j = (
        a.crossJoin(F.broadcast(lags))
        .join(b, (F.col("event_type") == F.col("et2")) & (F.col("day2") == F.col("day") - F.col("lag")))
        .select("event_type", "lag", "actual", "fc")
    )
    t = j.select(
        "event_type",
        "lag",
        F.abs(F.col("actual") - F.col("fc")).alias("ae"),
        F.round(
            F.abs(F.col("actual") - F.col("fc")).cast("double") / F.col("actual").cast("double"), 12
        )
        .cast("decimal(20,12)")
        .alias("ape"),
    )
    return t.groupBy("event_type", "lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.round(F.sum("ae").cast("double") / F.count(F.lit(1)), 6).alias("mae"),
        F.round(F.sum("ape").cast("double") / F.count(F.lit(1)), 6).alias("mape"),
    ).select(
        "event_type", F.col("lag").cast("int").alias("lag"), "n_days", "mae", "mape"
    )


# ---------------------------------------------------------------------------
# q239 — Holt double-exponential smoothing (level + trend) per
# event_type over the daily value series: the stateful-forecast sibling
# of q183's CUSUM (same Arrow applyInPandas recursion / recursive-CTE
# oracle discipline). alpha = 0.5 and beta = 0.25 are exactly
# representable doubles and every recursion step is written as the
# IDENTICAL IEEE expression in pandas and SQL, so the walk is
# bit-identical; init l1 = x1, b1 = 0. fit_t = l_{t-1} + b_{t-1} is the
# one-step-ahead forecast used for in-sample error. Partitioned by key
# — each series folds inside one Arrow batch, never on the driver.
# ---------------------------------------------------------------------------
_HOLT_A, _HOLT_B = 0.5, 0.25


@register(
    "q239_holt_smoothing",
    oracle=f"""
    WITH RECURSIVE daily AS (
      SELECT event_type,
             CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day_s,
             {exact_sum_sql("value")} AS x
      FROM events GROUP BY event_type, day_s),
    seq AS (
      SELECT event_type, day_s, x,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day_s) AS rn
      FROM daily),
    walk AS (
      SELECT event_type, day_s, x, rn,
             x AS l, CAST(0.0 AS DOUBLE) AS b, CAST(NULL AS DOUBLE) AS fit
      FROM seq WHERE rn = 1
      UNION ALL
      SELECT q.event_type, q.day_s, q.x, q.rn,
             {_HOLT_A}::DOUBLE * q.x + {1 - _HOLT_A}::DOUBLE * (w.l + w.b) AS l,
             {_HOLT_B}::DOUBLE * (({_HOLT_A}::DOUBLE * q.x + {1 - _HOLT_A}::DOUBLE * (w.l + w.b)) - w.l)
               + {1 - _HOLT_B}::DOUBLE * w.b AS b,
             w.l + w.b AS fit
      FROM seq q JOIN walk w ON q.event_type = w.event_type AND q.rn = w.rn + 1)
    SELECT event_type, day_s, ROUND(x, 2) AS x,
           ROUND(l, 6) AS level, ROUND(b, 6) AS trend, ROUND(fit, 6) AS fit
    FROM walk
    """,
)
def q239_holt_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            "event_type", F.date_trunc("day", F.col("ts")).cast("long").alias("day_s")
        )
        .agg(F.sum(dec("value")).alias("x_dec"))
        .select("event_type", "day_s", F.col("x_dec").cast("double").alias("x"))
    )

    def walk(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day_s").reset_index(drop=True)
        lv, bv = 0.0, 0.0
        levels, trends, fits = [], [], []
        for i, x in enumerate(pdf["x"]):
            if i == 0:
                lv, bv, fit = x, 0.0, None
            else:
                fit = lv + bv
                l_new = _HOLT_A * x + (1 - _HOLT_A) * (lv + bv)
                bv = _HOLT_B * (l_new - lv) + (1 - _HOLT_B) * bv
                lv = l_new
            levels.append(lv)
            trends.append(bv)
            fits.append(fit)
        pdf["level"] = levels
        pdf["trend"] = trends
        pdf["fit"] = fits
        return pdf[["event_type", "day_s", "x", "level", "trend", "fit"]]

    walked = daily.groupBy("event_type").applyInPandas(
        walk,
        schema="event_type string, day_s bigint, x double, level double, trend double, fit double",
    )
    # round OUTSIDE the UDF: pandas .round is half-even, Spark/DuckDB
    # ROUND are half-away — Holt's exact power-of-two coefficients make
    # 6-decimal ties common enough to flip output bits otherwise
    return walked.select(
        "event_type", "day_s", F.round("x", 2).alias("x"),
        F.round("level", 6).alias("level"), F.round("trend", 6).alias("trend"),
        F.round("fit", 6).alias("fit"),
    )


# ---------------------------------------------------------------------------
# q391 — ES `change_point` aggregation: per event_type, find the step
# change in the daily-count series — the split k maximizing the
# between-segment variance gain
#     gain(k) = (S1*n2 - S2*n1)^2 / (n * n1 * n2)
# (the one-change-point least-squares objective; S/n are segment
# sums/lengths). All inputs are exact integers from cumulative-sum
# windows; the gain is identically-parenthesized double math on them
# (products < 2^53 at every tested scale — at petabyte counts promote
# the cross term to DECIMAL(38,0)), so argmax and tiebreak (earliest
# day) agree bit-for-bit across engines. Minimum segment length 3
# buckets, ES's small-sample guard.
#
# Shape (100 TB): one map-combinable groupBy(event_type, day), then
# windows partitioned by event_type (series are independent; each
# series' buckets are one partition — a series is at most ~10^4 rows
# even at decade retention, so the per-partition sort is trivial).
# ---------------------------------------------------------------------------
@register(
    "q391_change_point",
    oracle="""
    WITH c AS (
      SELECT event_type,
             (CAST(floor(epoch(ts)) AS BIGINT) // 86400) AS d,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2),
    w AS (
      SELECT event_type, d, cnt,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) AS rn,
             SUM(cnt) OVER (PARTITION BY event_type ORDER BY d) AS s1,
             COUNT(*) OVER (PARTITION BY event_type) AS n,
             SUM(cnt) OVER (PARTITION BY event_type) AS s,
             LEAD(d) OVER (PARTITION BY event_type ORDER BY d) AS next_d
      FROM c),
    g AS (
      SELECT event_type, next_d, rn AS n1, n - rn AS n2, s1, s - s1 AS s2,
             (CAST((s1 * (n - rn)) - ((s - s1) * rn) AS DOUBLE)
              * CAST((s1 * (n - rn)) - ((s - s1) * rn) AS DOUBLE))
             / ((CAST(rn AS DOUBLE) * CAST(n - rn AS DOUBLE)) * CAST(n AS DOUBLE))
               AS gain
      FROM w WHERE rn >= 3 AND rn <= n - 3),
    r AS (
      SELECT event_type, next_d, n1, n2, s1, s2, gain,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY gain DESC, next_d) AS rk
      FROM g)
    SELECT event_type,
           CAST((DATE '1970-01-01' + CAST(next_d AS INTEGER)) AS VARCHAR)
             AS change_day,
           ROUND(gain, 4) AS gain,
           ROUND(CAST(s1 AS DOUBLE) / n1, 4) AS mean_before,
           ROUND(CAST(s2 AS DOUBLE) / n2, 4) AS mean_after,
           CASE WHEN CAST(s2 AS DOUBLE) / n2 > CAST(s1 AS DOUBLE) / n1
                THEN 'up' ELSE 'down' END AS direction
    FROM r WHERE rk = 1 ORDER BY event_type
    """,
)
def q391_change_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    day = (F.col("ts").cast("long") / 86400).cast("bigint")
    c = ev.groupBy("event_type", day.alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    wser = Window.partitionBy("event_type").orderBy("d")
    wall = Window.partitionBy("event_type")
    w = c.select(
        "event_type",
        "d",
        "cnt",
        F.row_number().over(wser).alias("rn"),
        F.sum("cnt").over(wser).alias("s1"),
        F.count(F.lit(1)).over(wall).alias("n"),
        F.sum("cnt").over(wall).alias("s"),
        F.lead("d").over(wser).alias("next_d"),
    )
    n1, n2 = F.col("rn"), F.col("n") - F.col("rn")
    s1, s2 = F.col("s1"), F.col("s") - F.col("s1")
    diff = (s1 * n2) - (s2 * n1)
    gain = (diff.cast("double") * diff.cast("double")) / (
        (n1.cast("double") * n2.cast("double")) * F.col("n").cast("double")
    )
    g = w.filter((F.col("rn") >= 3) & (F.col("rn") <= F.col("n") - 3)).select(
        "event_type",
        "next_d",
        n1.alias("n1"),
        n2.alias("n2"),
        s1.alias("seg1"),
        s2.alias("seg2"),
        gain.alias("gain"),
    )
    rk = F.row_number().over(
        Window.partitionBy("event_type").orderBy(F.col("gain").desc(), "next_d")
    )
    mb = F.col("seg1").cast("double") / F.col("n1")
    ma = F.col("seg2").cast("double") / F.col("n2")
    return (
        g.withColumn("rk", rk)
        .filter(F.col("rk") == 1)
        .select(
            "event_type",
            F.date_from_unix_date(F.col("next_d").cast("int"))
            .cast("string")
            .alias("change_day"),
            F.round("gain", 4).alias("gain"),
            F.round(mb, 4).alias("mean_before"),
            F.round(ma, 4).alias("mean_after"),
            F.when(ma > mb, F.lit("up")).otherwise(F.lit("down")).alias("direction"),
        )
        .orderBy("event_type")
    )
