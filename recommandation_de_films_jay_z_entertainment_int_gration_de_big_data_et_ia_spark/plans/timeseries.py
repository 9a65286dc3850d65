"""Time-series / event-stream query catalog over ``events`` (and orders),
including the Structured Streaming queries.

Uses Spark's native time-window operators (``F.window`` tumbling/sliding,
``F.session_window`` gap sessions) — the *same* expressions run under
Structured Streaming with a watermark (see ``streaming/windows.py``); here
they're exercised in batch so the DuckDB oracle can replay them exactly.
Window starts are surfaced as epoch seconds (BIGINT) — timezone-proof.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import dec, dec_sql, exact_sum, exact_sum_sql
from ..sources.readers import load_table
from ..streaming.windows import session_stats, tumbling_counts
from .catalog import register


# The oracle of q44 (batch) and q66 (streaming): both run
# ``streaming.windows.tumbling_counts``.
TUMBLING_ORACLE = f"""
    SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start_s, event_type,
           COUNT(*) AS n_events,
           {exact_sum_sql("value", 2)} AS sum_value
    FROM events
    GROUP BY window_start_s, event_type
    """


# ---------------------------------------------------------------------------
# Tumbling 1-hour windows per event_type
# ---------------------------------------------------------------------------
@register("q44_tumbling_window", oracle=TUMBLING_ORACLE)
def q44_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tumbling_counts(load_table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# Sliding windows: 1 hour long, every 30 minutes (each event in 2 windows)
# ---------------------------------------------------------------------------
@register(
    "q45_sliding_window",
    oracle=f"""
    WITH assigned AS (
      SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 1800) * 1800 AS ws, value FROM events
      UNION ALL
      SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 1800) * 1800 - 1800 AS ws, value FROM events)
    SELECT ws AS window_start_s, COUNT(*) AS n_events, {exact_sum_sql("value", 2)} AS sum_value
    FROM assigned GROUP BY ws
    """,
)
def q45_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), exact_sum("value", 2).alias("sum_value"))
        .select(F.col("w.start").cast("long").alias("window_start_s"), "n_events", "sum_value")
    )


# ---------------------------------------------------------------------------
# Gap-based sessionization (30-minute inactivity gap) — Spark-native
# session_window, oracled by the classic lag/cumulative-sum construction.
# New-session rule matches session_window: gap STRICTLY less than 30 min
# continues a session (diff >= 1800s starts a new one).
# ---------------------------------------------------------------------------
@register(
    "q46_sessionize",
    oracle="""
    WITH o AS (
      SELECT user_id, epoch(ts) AS t,
             LAG(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_t
      FROM events),
    flagged AS (
      SELECT user_id, t,
             CASE WHEN prev_t IS NULL OR t - prev_t >= 1800 THEN 1 ELSE 0 END AS new_sess
      FROM o),
    numbered AS (
      SELECT user_id, t,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY t
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_num
      FROM flagged)
    SELECT user_id, CAST(MIN(floor(t)) AS BIGINT) AS session_start_s,
           COUNT(*) AS n_events,
           CAST(MAX(floor(t)) AS BIGINT) - CAST(MIN(floor(t)) AS BIGINT) AS duration_s
    FROM numbered GROUP BY user_id, sess_num
    """,
)
def q46_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return session_stats(ev, "30 minutes")


# ---------------------------------------------------------------------------
# JSON scalar extraction from the props column
# ---------------------------------------------------------------------------
@register(
    "q47_json_extract",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           COUNT(*) AS n
    FROM events GROUP BY event_type
    """,
)
def q47_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.sum(F.get_json_object("props", "$.k").cast("bigint")).alias("sum_k"),
        F.count(F.lit(1)).alias("n"),
    )


# ---------------------------------------------------------------------------
# Range (interval) join: events ⨝ overlapping 2-day campaign windows.
# Engine side uses the bucketed equi-join rewrite (relational.range_join_
# bucketed) — never BroadcastNestedLoopJoin; oracle uses the plain
# inequality join (same result, different physical strategy).
# Epoch-second comparisons on both sides keep it timezone-proof.
# ---------------------------------------------------------------------------
_JAN1_2024 = 1704067200  # 2024-01-01 00:00:00 UTC


@register(
    "q84_range_join",
    oracle=f"""
    WITH ev AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) AS ts_s, value FROM events),
    iv AS (SELECT {_JAN1_2024} + s * 86400 AS w_start_s,
                  {_JAN1_2024} + s * 86400 + 172800 AS w_end_s
           FROM generate_series(0, 29) t(s)),
    j AS (SELECT w_start_s, value FROM ev
          JOIN iv ON ts_s >= w_start_s AND ts_s < w_end_s)
    SELECT CAST(w_start_s AS BIGINT) AS w_start_s,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {exact_sum_sql("value", 2)} AS sum_value
    FROM j GROUP BY w_start_s ORDER BY w_start_s
    """,
)
def q84_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import relational as R

    ev = load_table(spark, sf_dir, "events").select(
        F.col("ts").cast("long").alias("ts_s"), "value"
    )
    iv = spark.range(0, 30).select(
        (F.lit(_JAN1_2024).cast("long") + F.col("id") * 86400).alias("w_start_s"),
        (F.lit(_JAN1_2024).cast("long") + F.col("id") * 86400 + 172800).alias("w_end_s"),
    )
    joined = R.range_join_bucketed(
        ev, "ts_s", iv, "w_start_s", "w_end_s", bucket=86400, broadcast_intervals=True
    )
    return (
        joined.groupBy("w_start_s")
        .agg(F.count(F.lit(1)).alias("n_events"), exact_sum("value", 2).alias("sum_value"))
        .orderBy("w_start_s")
    )


# ---------------------------------------------------------------------------
# Click attribution: interval self-join (view ← click within 30 min, same
# user). The engine runs streaming/windows.attribution_join — the SAME
# expression that runs as a watermarked stream-stream join (equivalence
# guarded by tests/test_streaming.py) — here over the batch table.
# ---------------------------------------------------------------------------
@register(
    "q87_click_attribution",
    oracle="""
    WITH v AS (SELECT user_id, event_id AS view_id, ts AS view_ts
               FROM events WHERE event_type = 'view'),
    c AS (SELECT user_id, event_id AS click_id, ts AS click_ts
          FROM events WHERE event_type = 'click')
    SELECT v.user_id, view_id, click_id,
           CAST(floor(epoch(view_ts)) AS BIGINT) AS view_ts_s,
           CAST(floor(epoch(click_ts)) AS BIGINT) AS click_ts_s
    FROM v JOIN c ON v.user_id = c.user_id
      AND click_ts >= view_ts AND click_ts < view_ts + INTERVAL 30 MINUTE
    """,
)
def q87_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.windows import attribution_join

    ev = load_table(spark, sf_dir, "events")
    return attribution_join(
        ev.filter(F.col("event_type") == "view"),
        ev.filter(F.col("event_type") == "click"),
    )


# ---------------------------------------------------------------------------
# q98 — as-of join (backward): each click attributed to the single most
# recent prior view by the same user, with UNBOUNDED lookback (q87's
# interval join needs a 30-min bound to stay bucketable; the as-of shape
# doesn't). Generalizes q59 (single-stream carry-forward of one
# timestamp) to TWO frames with an arbitrary matched-row payload. The operator is join-free — union-tag + running last() over a
# (user, ts) window, one shuffle — and the oracle is DuckDB's native
# ASOF JOIN. Ties: views are pre-reduced to max(view_id) per (user, ts),
# and a click at ts T matches a view at exactly T (>= semantics), both
# mirrored in the oracle.
# ---------------------------------------------------------------------------
@register(
    "q98_asof_join",
    oracle="""
    WITH v AS (SELECT user_id, ts, MAX(event_id) AS view_id
               FROM events WHERE event_type = 'view' GROUP BY user_id, ts),
    c AS (SELECT user_id, ts, event_id AS click_id
          FROM events WHERE event_type = 'click')
    SELECT c.click_id, c.user_id,
           CAST(floor(epoch(c.ts)) AS BIGINT) AS click_ts_s,
           v.view_id,
           CAST(floor(epoch(v.ts)) AS BIGINT) AS view_ts_s
    FROM c ASOF JOIN v ON c.user_id = v.user_id AND c.ts >= v.ts
    """,
)
def q98_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import asof_join_backward

    ev = load_table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("event_id").alias("view_id")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    j = asof_join_backward(clicks, views, on="user_id", ts="ts")
    return j.select(
        "click_id",
        "user_id",
        F.col("ts").cast("long").alias("click_ts_s"),
        "view_id",
        F.col("ts_matched").cast("long").alias("view_ts_s"),
    )


# ---------------------------------------------------------------------------
# q101 — retention cohort matrix: users bucketed by first-seen week,
# counted in each subsequent week they were active. Week buckets are
# epoch arithmetic (floor(epoch / 604800)), NOT date_trunc('week') —
# calendar truncation is session-timezone-dependent in Spark (LTZ) and
# would break oracle parity on a non-UTC vanilla driver session.
# Shape: distinct (one shuffle), first-seen agg (one shuffle on user),
# join on user, final agg — no window, no per-user state.
# ---------------------------------------------------------------------------
@register(
    "q101_retention_cohorts",
    oracle="""
    WITH act AS (
      SELECT DISTINCT user_id,
             CAST(floor(floor(epoch(ts)) / 604800) AS BIGINT) AS wk
      FROM events),
    firstseen AS (SELECT user_id, MIN(wk) AS cohort FROM act GROUP BY user_id)
    SELECT cohort * 604800 AS cohort_week_s,
           a.wk - f.cohort AS week_offset,
           COUNT(*) AS n_users
    FROM act a JOIN firstseen f USING (user_id)
    GROUP BY 1, 2
    """,
)
def q101_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    act = ev.select(
        "user_id", F.floor(F.col("ts").cast("long") / 604800).cast("long").alias("wk")
    ).distinct()
    firstseen = act.groupBy("user_id").agg(F.min("wk").alias("cohort"))
    return (
        act.join(firstseen, "user_id")
        .groupBy(
            (F.col("cohort") * 604800).alias("cohort_week_s"),
            (F.col("wk") - F.col("cohort")).alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


# ---------------------------------------------------------------------------
# q102 — SCD2 history: per user, collapse consecutive identical
# event_types into versioned validity intervals (valid_from <= t <
# valid_to; the open version ends at the standard year-9999 high-date,
# not NULL, so intervals stay range-filterable and engines agree on the
# column type). Both sides order by (floored epoch, event_id) — a total
# order — so same-second changes version deterministically.
# ---------------------------------------------------------------------------
@register(
    "q102_scd2_history",
    oracle="""
    WITH o AS (
      SELECT user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS t, event_id,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id) AS prev,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id) AS rn
      FROM events),
    chg AS (SELECT user_id, event_type, t, event_id FROM o
            WHERE rn = 1 OR event_type IS DISTINCT FROM prev)
    SELECT user_id, event_type, t AS valid_from_s,
           COALESCE(LEAD(t) OVER (PARTITION BY user_id ORDER BY t, event_id),
                    253402300800) AS valid_to_s,
           CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY t, event_id) AS BIGINT) AS version
    FROM chg
    """,
)
def q102_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import scd2_history

    ev = load_table(spark, sf_dir, "events")
    return scd2_history(ev, "user_id", "ts", "event_type", "event_id")


# ---------------------------------------------------------------------------
# q118 — gap-filled hourly series: every (event_type, hour) bucket in the
# table's [min, max] hour span, zero-filled where no events landed (the
# dense series a dashboard/forecaster consumes; sparse groupBy output
# silently hides empty buckets). The dense axis is generated with
# F.sequence/explode from a 1-row span aggregate — no driver loop, no UDF.
#
# Shape (100 TB): the span is a 1-row broadcast; the dense axis is
# |hours| × |types| rows (tiny vs the fact table); the fact-side agg is
# the usual partial+final hash agg, and the fill join is broadcast of the
# AGGREGATED sparse frame into the dense axis when small — here the
# dense axis and the agg are both small; the fact table is scanned once.
# ---------------------------------------------------------------------------
@register(
    "q118_gapfill_hourly",
    oracle="""
    WITH span AS (
      SELECT CAST(epoch(date_trunc('hour', MIN(ts))) AS BIGINT) AS lo,
             CAST(epoch(date_trunc('hour', MAX(ts))) AS BIGINT) AS hi
      FROM events),
    axis AS (
      SELECT t.h AS window_start_s, et.event_type
      FROM (SELECT unnest(range(lo, hi + 3600, 3600)) AS h FROM span) t
      CROSS JOIN (SELECT DISTINCT event_type FROM events) et),
    agg AS (
      SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS ws, event_type,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2)
    SELECT a.window_start_s, a.event_type,
           CAST(COALESCE(g.n, 0) AS BIGINT) AS n_events
    FROM axis a LEFT JOIN agg g
      ON a.window_start_s = g.ws AND a.event_type = g.event_type
    """,
)
def q118_gapfill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hour = F.floor(F.col("ts").cast("long") / 3600) * 3600
    span = ev.agg(
        F.min(hour).alias("lo"), F.max(hour).alias("hi")
    )
    hours = span.select(
        F.explode(F.sequence("lo", "hi", F.lit(3600))).alias("window_start_s")
    )
    types = ev.select("event_type").distinct()
    axis = hours.crossJoin(F.broadcast(types))
    agg = ev.groupBy(hour.alias("ws"), "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    return (
        axis.join(
            F.broadcast(agg),
            (axis["window_start_s"] == agg["ws"])
            & (axis["event_type"] == agg["event_type"]),
            "left",
        )
        .select(
            "window_start_s",
            axis["event_type"].alias("event_type"),
            F.coalesce("n", F.lit(0)).cast("bigint").alias("n_events"),
        )
    )


# ---------------------------------------------------------------------------
# q128 — behavior transition matrix: per user, order events by the total
# order (epoch-floored ts, event_id) and count consecutive event-type
# bigrams; emit each transition's count and per-source-state probability
# (the first-order Markov chain product analytics reads funnels from).
# Probability = count/row-total as identically-parenthesized double math
# rounded to 6 — cross-engine exact.
#
# Shape (100 TB): one shuffle on user_id for the lag window, then a
# small (|types|²) aggregate; the per-from totals come from a window
# over that tiny frame, not a second pass over events.
# ---------------------------------------------------------------------------
@register(
    "q128_markov_transitions",
    oracle="""
    WITH o AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id) AS prev
      FROM events),
    c AS (SELECT prev AS from_type, event_type AS to_type, COUNT(*) AS n
          FROM o WHERE prev IS NOT NULL GROUP BY prev, event_type),
    t AS (SELECT from_type, to_type, n,
                 SUM(n) OVER (PARTITION BY from_type) AS tot
          FROM c)
    SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
           ROUND(CAST(n AS DOUBLE) / tot, 6) AS prob
    FROM t
    """,
)
def q128_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").cast("long"), "event_id")
    o = ev.select(
        "event_type", F.lag("event_type").over(w).alias("from_type")
    ).filter(F.col("from_type").isNotNull())
    c = o.groupBy("from_type", F.col("event_type").alias("to_type")).agg(
        F.count(F.lit(1)).alias("n")
    )
    t = c.withColumn("tot", F.sum("n").over(Window.partitionBy("from_type")))
    return t.select(
        "from_type",
        "to_type",
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("n").cast("double") / F.col("tot"), 6).alias("prob"),
    )


# ---------------------------------------------------------------------------
# q129 — horizon dedup (the batch twin of q114's streaming
# dropDuplicatesWithinWatermark): per (user, event_type), events closer
# than 30 min to their predecessor collapse into one "burst"; keep the
# first event of each burst. Expressed with the native session window —
# the same merging-state machinery as q46 — so the batch and streaming
# forms share semantics. Oracle: gaps-and-islands (lag + cumulative
# new-burst flag), the classic SQL replay of session merging.
# The burst's keeper is selected via a packed (t, event_id) integer key
# (t*2^32 + id — engine-agnostic argmin; t < 2^31 and id < 2^32 keep
# the pack inside int64 for any realistic fixture).
# ---------------------------------------------------------------------------
@register(
    "q129_horizon_dedup",
    oracle="""
    WITH o AS (
      -- Gap detection MUST use full-precision epoch(ts): Spark's
      -- session_window merges on microsecond timestamps, so a pair with
      -- a 1799.2s true gap (floored diff 1800) must merge here too.
      -- Floored t is used only for the packed output key, matching the
      -- Spark side's ts.cast('long'). (Same precision discipline as q46.)
      SELECT user_id, event_type, event_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS t,
             epoch(ts) AS t_us,
             LAG(epoch(ts))
               OVER (PARTITION BY user_id, event_type
                     ORDER BY epoch(ts), event_id) AS prev_t_us
      FROM events),
    f AS (SELECT *, CASE WHEN prev_t_us IS NULL OR t_us - prev_t_us >= 1800 THEN 1 ELSE 0 END AS new_burst
          FROM o),
    g AS (SELECT *, SUM(new_burst) OVER (PARTITION BY user_id, event_type
                                         ORDER BY t_us, event_id) AS burst
          FROM f)
    SELECT user_id, event_type,
           CAST(MIN(t * 4294967296 + event_id) // 4294967296 AS BIGINT) AS first_ts_s,
           CAST(MIN(t * 4294967296 + event_id) % 4294967296 AS BIGINT) AS kept_event_id,
           CAST(COUNT(*) AS BIGINT) AS n_collapsed
    FROM g GROUP BY user_id, event_type, burst
    """,
)
def q129_horizon_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", "event_type", F.session_window("ts", "30 minutes"))
        .agg(
            F.min(F.col("ts").cast("long") * 4294967296 + F.col("event_id")).alias("__p"),
            F.count(F.lit(1)).cast("bigint").alias("n_collapsed"),
        )
        .select(
            "user_id",
            "event_type",
            (F.col("__p") / 4294967296).cast("bigint").alias("first_ts_s"),
            (F.col("__p") % 4294967296).cast("bigint").alias("kept_event_id"),
            "n_collapsed",
        )
    )


# ---------------------------------------------------------------------------
# q130 — chi-square independence audit between event_type and day-of-week:
# observed cell counts vs expected under independence, with per-cell
# chi² contributions. Day-of-week is epoch arithmetic ((d + 4) % 7,
# 1970-01-01 = Thursday) — timezone-free and identical in both engines;
# expected/chi² are identically-parenthesized double math on exact
# counts, rounded to 6.
# ---------------------------------------------------------------------------
@register(
    "q130_chisq_dow",
    oracle="""
    WITH c AS (
      SELECT event_type,
             CAST(((CAST(floor(epoch(ts)) AS BIGINT) // 86400) + 4) % 7 AS BIGINT) AS dow,
             COUNT(*) AS o
      FROM events GROUP BY 1, 2),
    t AS (SELECT event_type, dow, o,
                 SUM(o) OVER (PARTITION BY event_type) AS row_tot,
                 SUM(o) OVER (PARTITION BY dow) AS col_tot,
                 SUM(o) OVER () AS n
          FROM c)
    SELECT event_type, dow, CAST(o AS BIGINT) AS observed,
           ROUND((CAST(row_tot AS DOUBLE) * col_tot) / n, 6) AS expected,
           ROUND(((o - (CAST(row_tot AS DOUBLE) * col_tot) / n)
                  * (o - (CAST(row_tot AS DOUBLE) * col_tot) / n))
                 / ((CAST(row_tot AS DOUBLE) * col_tot) / n), 6) AS chi2_term
    FROM t
    """,
)
def q130_chisq_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    dow = (((F.col("ts").cast("long") / 86400).cast("bigint") + 4) % 7).cast("bigint")
    c = ev.groupBy("event_type", dow.alias("dow")).agg(F.count(F.lit(1)).alias("o"))
    t = c.select(
        "event_type",
        "dow",
        "o",
        F.sum("o").over(Window.partitionBy("event_type")).alias("row_tot"),
        F.sum("o").over(Window.partitionBy("dow")).alias("col_tot"),
        F.sum("o").over(Window.partitionBy()).alias("n"),
    )
    e = (F.col("row_tot").cast("double") * F.col("col_tot")) / F.col("n")
    return t.select(
        "event_type",
        "dow",
        F.col("o").cast("bigint").alias("observed"),
        F.round(e, 6).alias("expected"),
        F.round(((F.col("o") - e) * (F.col("o") - e)) / e, 6).alias("chi2_term"),
    )


# ---------------------------------------------------------------------------
# q131 — grouped OLS trend: per event_type, regress value on event-day
# with closed-form least squares over EXACT decimal sums (value rounded
# to DECIMAL(18,6) first; x is integer days) — the slope/intercept
# doubles are then identical in both engines because every float op on
# top of the exact sums is identically parenthesized.
# ---------------------------------------------------------------------------
@register(
    "q131_group_ols_trend",
    oracle="""
    WITH p AS (
      SELECT event_type,
             CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS x,
             CAST(ROUND(value, 6) AS DECIMAL(18,6)) AS y
      FROM events WHERE value IS NOT NULL),
    s AS (SELECT event_type,
                 COUNT(*) AS n, SUM(x) AS sx, SUM(x * x) AS sxx,
                 SUM(y) AS sy, SUM(CAST(x AS DECIMAL(18,0)) * y) AS sxy
          FROM p GROUP BY event_type)
    SELECT event_type, CAST(n AS BIGINT) AS n,
           ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 8) AS slope,
           ROUND((CAST(sy AS DOUBLE) - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) * CAST(sx AS DOUBLE))
                 / CAST(n AS DOUBLE), 6) AS intercept
    FROM s
    """,
)
def q131_group_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    p = ev.select(
        "event_type",
        (F.col("ts").cast("long") / 86400).cast("bigint").alias("x"),
        F.round("value", 6).cast("decimal(18,6)").alias("y"),
    )
    s = p.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x").cast("decimal(18,0)") * F.col("y")).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    sxd, sxxd = F.col("sx").cast("double"), F.col("sxx").cast("double")
    syd, sxyd = F.col("sy").cast("double"), F.col("sxy").cast("double")
    slope = (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd)
    return s.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.round(slope, 8).alias("slope"),
        F.round((syd - slope * sxd) / nd, 6).alias("intercept"),
    )


# ---------------------------------------------------------------------------
# q132 — weighted moving average per event-type daily series: the last 3
# days' sums combined with fixed weights (0.5, 0.3, 0.2, newest first) —
# the bounded-window smoother dashboards run (EWMA's exact finite
# cousin; a true EWMA is the streaming applyInPandasWithState shape).
# Daily sums and the weighted combination stay in EXACT decimal
# arithmetic end-to-end and are emitted at FULL scale as strings — the
# oracle exposed that not only double rounding but even decimal→decimal
# tie rounding differs across engines (x.xx5 went HALF_UP in Spark,
# down in DuckDB), so the only bit-stable surface is the unrounded
# exact decimal.
# ---------------------------------------------------------------------------
@register(
    "q132_weighted_moving_avg",
    oracle="""
    WITH d AS (
      SELECT event_type,
             CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
             SUM(CAST(ROUND(value, 6) AS DECIMAL(18,6))) AS s
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
    l AS (
      SELECT event_type, day, s,
             LAG(s, 1) OVER (PARTITION BY event_type ORDER BY day) AS s1,
             LAG(s, 2) OVER (PARTITION BY event_type ORDER BY day) AS s2
      FROM d)
    SELECT event_type, day,
           CAST(s AS VARCHAR) AS day_sum,
           CAST(CAST(CAST(0.5 AS DECIMAL(2,1)) * s
                     + CAST(0.3 AS DECIMAL(2,1)) * s1
                     + CAST(0.2 AS DECIMAL(2,1)) * s2 AS DECIMAL(30,7)) AS VARCHAR) AS wma3
    FROM l WHERE s1 IS NOT NULL AND s2 IS NOT NULL
    """,
)
def q132_weighted_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    d = ev.groupBy(
        "event_type",
        (F.col("ts").cast("long") / 86400).cast("bigint").alias("day"),
    ).agg(F.sum(F.round("value", 6).cast("decimal(18,6)")).alias("s"))
    w = Window.partitionBy("event_type").orderBy("day")
    lagged = d.select(
        "event_type",
        "day",
        "s",
        F.lag("s", 1).over(w).alias("s1"),
        F.lag("s", 2).over(w).alias("s2"),
    ).filter(F.col("s1").isNotNull() & F.col("s2").isNotNull())
    import decimal

    w5 = F.lit(decimal.Decimal("0.5"))
    w3 = F.lit(decimal.Decimal("0.3"))
    w2 = F.lit(decimal.Decimal("0.2"))
    return lagged.select(
        "event_type",
        "day",
        F.col("s").cast("string").alias("day_sum"),
        (w5 * F.col("s") + w3 * F.col("s1") + w2 * F.col("s2"))
        .cast("decimal(30,7)")
        .cast("string")
        .alias("wma3"),
    )


# ---------------------------------------------------------------------------
# q135 — point-in-time (time-travel) lookup over the SCD2 history: the
# state every user was in at 2024-01-15 00:00 UTC — the interval
# containing T (valid_from <= T < valid_to). This is why q102 closes its
# open version with a year-9999 high-date instead of NULL: the probe is
# a plain range filter, partition/zone-map prunable at scale, no
# NULL-handling branch.
# ---------------------------------------------------------------------------
_PIT_T = 1705276800  # 2024-01-15 00:00:00 UTC


@register(
    "q135_point_in_time",
    oracle=f"""
    WITH o AS (
      SELECT user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS t, event_id,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id) AS prev,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id) AS rn
      FROM events),
    chg AS (SELECT user_id, event_type, t, event_id FROM o
            WHERE rn = 1 OR event_type IS DISTINCT FROM prev),
    hist AS (
      SELECT user_id, event_type, t AS valid_from_s,
             COALESCE(LEAD(t) OVER (PARTITION BY user_id ORDER BY t, event_id),
                      253402300800) AS valid_to_s,
             CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY t, event_id) AS BIGINT) AS version
      FROM chg)
    SELECT user_id, event_type AS state_at_t, valid_from_s, version
    FROM hist WHERE valid_from_s <= {_PIT_T} AND {_PIT_T} < valid_to_s
    """,
)
def q135_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import scd2_history

    ev = load_table(spark, sf_dir, "events")
    hist = scd2_history(ev, "user_id", "ts", "event_type", "event_id")
    return hist.filter(
        (F.col("valid_from_s") <= _PIT_T) & (F.lit(_PIT_T) < F.col("valid_to_s"))
    ).select(
        "user_id",
        F.col("event_type").alias("state_at_t"),
        "valid_from_s",
        "version",
    )


# ---------------------------------------------------------------------------
# q143 — STREAMING sessionization (q46 through Structured Streaming's
# merging-session state store, drained with availableNow in append
# mode). The oracle is the batch lag/cumsum session construction in
# FULL-PRECISION microseconds (per the q129 lesson: gap and emission
# comparisons never floor; only output columns do) plus the emission
# predicate probed and pinned in tests/test_streaming.py:
#   watermark_us = (max_event_us // 1000 - delay_ms) * 1000   (ms truncation)
#   emitted      iff session_end_us <= watermark_us           (non-strict)
# Sessions the final watermark has not passed remain in state and are
# NOT in the output — the oracle excludes exactly those.
# ---------------------------------------------------------------------------
_SESS_GAP_US = 1_800_000_000  # 30 minutes
_SESS_DELAY_MS = 600_000  # 10 minutes


@register(
    "q143_streaming_sessions",
    oracle=f"""
    WITH o AS (
      SELECT user_id, epoch_us(ts) AS t,
             LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_t
      FROM events),
    flagged AS (
      SELECT user_id, t,
             CASE WHEN prev_t IS NULL OR t - prev_t >= {_SESS_GAP_US} THEN 1 ELSE 0 END AS new_sess
      FROM o),
    numbered AS (
      SELECT user_id, t,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY t
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_num
      FROM flagged),
    sess AS (
      SELECT user_id,
             MIN(t) AS start_us, MAX(t) AS end_last_us, COUNT(*) AS n_events
      FROM numbered GROUP BY user_id, sess_num),
    wm AS (
      SELECT ((MAX(epoch_us(ts)) // 1000) - {_SESS_DELAY_MS}) * 1000 AS wm_us FROM events)
    SELECT user_id,
           start_us // 1000000 AS session_start_s,
           n_events,
           end_last_us // 1000000 - start_us // 1000000 AS duration_s
    FROM sess, wm
    WHERE end_last_us + {_SESS_GAP_US} <= wm_us
    """,
)
def q143_streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from ..streaming.windows import run_stream_to_memory, session_counts, stream_events

    name = f"q143_sink_{uuid.uuid4().hex[:8]}"
    run_stream_to_memory(
        session_counts(stream_events(spark, sf_dir), gap="30 minutes", watermark="10 minutes"),
        name,
        output_mode="append",
    )
    return spark.table(name)


# ---------------------------------------------------------------------------
# q145 — concurrency curve (sweep-line occupancy): sessions (q46's exact
# construction) become +1/-1 boundary deltas; a running sum over the
# time-ordered deltas is the number of concurrently-open sessions; the
# output is the per-day peak. The classic interval-overlap aggregation
# that plain SQL can't express without a sweep — here it is two
# shuffles (session groupBy, boundary groupBy) plus one global running
# window. Day is surfaced as epoch-day (t // 86400) — timezone-free.
#
# Shape (100 TB): the global running sum is the one inherently serial
# step; its input is BOUNDARY COUNTS (two rows per session, pre-summed
# per timestamp), orders of magnitude smaller than events. For
# cluster-width parallelism swap the single window for the two-pass
# partition-prefix trick (per-shard sums, then broadcast shard offsets)
# — same algebra, documented here as the scale path.
# ---------------------------------------------------------------------------
@register(
    "q145_concurrency_curve",
    oracle=f"""
    WITH o AS (
      SELECT user_id, epoch_us(ts) AS t,
             LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_t
      FROM events),
    flagged AS (
      SELECT user_id, t,
             CASE WHEN prev_t IS NULL OR t - prev_t >= {_SESS_GAP_US} THEN 1 ELSE 0 END AS new_sess
      FROM o),
    numbered AS (
      SELECT user_id, t, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY t
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_num
      FROM flagged),
    sess AS (
      SELECT user_id, MIN(t) // 1000000 AS start_s, MAX(t) // 1000000 AS end_s
      FROM numbered GROUP BY user_id, sess_num),
    deltas AS (
      SELECT start_s AS t, 1 AS d FROM sess
      UNION ALL SELECT end_s + 1, -1 FROM sess),
    per_t AS (SELECT t, SUM(d) AS d FROM deltas GROUP BY t),
    curve AS (SELECT t, SUM(d) OVER (ORDER BY t
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc FROM per_t)
    SELECT t // 86400 AS epoch_day, CAST(MAX(conc) AS BIGINT) AS peak_concurrency
    FROM curve GROUP BY epoch_day
    """,
)
def q145_concurrency_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    sess = ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("sw")).agg(
        F.min(F.col("ts").cast("long")).alias("start_s"),
        F.max(F.col("ts").cast("long")).alias("end_s"),
    )
    deltas = sess.select(F.col("start_s").alias("t"), F.lit(1).alias("d")).unionAll(
        sess.select((F.col("end_s") + 1).alias("t"), F.lit(-1).alias("d"))
    )
    per_t = deltas.groupBy("t").agg(F.sum("d").alias("d"))
    w = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    curve = per_t.withColumn("conc", F.sum("d").over(w))
    return (
        curve.withColumn("epoch_day", (F.col("t") / 86400).cast("bigint"))
        .groupBy("epoch_day")
        .agg(F.max("conc").cast("bigint").alias("peak_concurrency"))
    )


# ---------------------------------------------------------------------------
# q147 — multi-touch revenue attribution: each purchase credits its value
# to (a) the user's most recent prior non-purchase event type
# (last-touch) and (b) the user's earliest prior non-purchase event type
# (first-touch); purchases with no prior touch credit 'none'. One window
# pass per user ordered by full-precision (ts, event_id) — the running
# last/first are computed with frame UNBOUNDED PRECEDING..1 PRECEDING,
# so a purchase never credits itself or later events. Exact decimal
# value sums. One shuffle on user_id, one on the tiny (model, type)
# rollup.
# ---------------------------------------------------------------------------
@register(
    "q147_touch_attribution",
    oracle="""
    WITH o AS (
      SELECT user_id, event_type, value,
             LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_touch,
             FIRST_VALUE(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS first_touch
      FROM events),
    p AS (SELECT COALESCE(last_touch, 'none') AS last_touch,
                 COALESCE(first_touch, 'none') AS first_touch,
                 CAST(ROUND(value, 6) AS DECIMAL(18,6)) AS v
          FROM o WHERE event_type = 'purchase'),
    m AS (
      SELECT 'last_touch' AS model, last_touch AS touch_type,
             SUM(v) AS rev, COUNT(*) AS n FROM p GROUP BY last_touch
      UNION ALL
      SELECT 'first_touch', first_touch, SUM(v), COUNT(*) FROM p GROUP BY first_touch)
    SELECT model, touch_type, ROUND(CAST(rev AS DOUBLE), 4) AS rev, n FROM m
    """,
)
def q147_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    wb = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.when(F.col("event_type") != "purchase", F.col("event_type"))
    o = ev.select(
        "user_id",
        "event_type",
        "value",
        F.last(touch, ignorenulls=True).over(wb).alias("last_touch"),
        F.first(touch, ignorenulls=True).over(wb).alias("first_touch"),
    )
    p = o.filter(F.col("event_type") == "purchase").select(
        F.coalesce("last_touch", F.lit("none")).alias("last_touch"),
        F.coalesce("first_touch", F.lit("none")).alias("first_touch"),
        F.round("value", 6).cast("decimal(18,6)").alias("v"),
    )
    def rollup(col: str, model: str) -> DataFrame:
        return p.groupBy(F.col(col).alias("touch_type")).agg(
            F.sum("v").alias("rev"), F.count(F.lit(1)).alias("n")
        ).select(F.lit(model).alias("model"), "touch_type", "rev", "n")

    m = rollup("last_touch", "last_touch").unionAll(rollup("first_touch", "first_touch"))
    return m.select(
        "model", "touch_type", F.round(F.col("rev").cast("double"), 4).alias("rev"), "n"
    )


# ---------------------------------------------------------------------------
# q154 — STREAMING left-outer click attribution: q87's stream-stream
# interval join in LEFT OUTER form, so unattributed views surface as
# NULL-click rows once the watermark closes their match window. The
# oracle is the batch interval join UNION'd with the unmatched views
# whose end-exclusive window the final watermark has passed:
#   wm_us = (min(max_view_ms, max_click_ms) - delay_ms) * 1000
#   null-emit iff view_ts + 30min <= wm_us   (probe-pinned, strict
#   window end ⇒ non-strict watermark comparison).
# ---------------------------------------------------------------------------
_ATTR_WIN_US = 1_800_000_000  # 30 minutes
_ATTR_DELAY_MS = 7_200_000  # 2 hours


@register(
    "q154_streaming_left_attribution",
    oracle=f"""
    WITH v AS (
      SELECT user_id, event_id AS view_id, epoch_us(ts) AS vt
      FROM events WHERE event_type = 'view'),
    c AS (
      SELECT user_id, event_id AS click_id, epoch_us(ts) AS ct
      FROM events WHERE event_type = 'click'),
    m AS (
      SELECT v.user_id, v.view_id, c.click_id
      FROM v JOIN c ON v.user_id = c.user_id
       AND c.ct >= v.vt AND c.ct < v.vt + {_ATTR_WIN_US}),
    wm AS (
      SELECT (LEAST((SELECT MAX(vt) // 1000 FROM v),
                    (SELECT MAX(ct) // 1000 FROM c)) - {_ATTR_DELAY_MS}) * 1000 AS wmu),
    unm AS (
      SELECT v.user_id, v.view_id, CAST(NULL AS BIGINT) AS click_id
      FROM v, wm
      WHERE v.vt + {_ATTR_WIN_US} <= wm.wmu
        AND NOT EXISTS (SELECT 1 FROM m WHERE m.view_id = v.view_id))
    SELECT user_id, view_id, click_id FROM m
    UNION ALL SELECT user_id, view_id, click_id FROM unm
    """,
)
def q154_streaming_left_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from ..streaming.windows import attribution_join_left, run_stream_to_memory, stream_events

    ev = stream_events(spark, sf_dir)
    views = ev.filter(F.col("event_type") == "view")
    clicks = ev.filter(F.col("event_type") == "click")
    name = f"q154_sink_{uuid.uuid4().hex[:8]}"
    run_stream_to_memory(attribution_join_left(views, clicks), name, output_mode="append")
    return spark.table(name)


# ---------------------------------------------------------------------------
# q165 — LINEAR-interpolation gap fill (q118 zero-fills; real sensor /
# metric pipelines interpolate): per event_type, the hourly mean series
# on a dense hour axis, with missing hours linearly interpolated
# between the nearest observed neighbors (edge gaps clamp to the
# nearest boundary value). Neighbor lookup is last/first-IGNORE-NULLS
# over the dense axis; the interpolation expression is singly-rounded
# with identical parenthesization in both engines. Exact decimal hour
# means; the dense axis is generated per type from min/max hour
# (sequence+explode — scan-local, never a driver loop).
# ---------------------------------------------------------------------------
@register(
    "q165_interpolated_series",
    oracle="""
    WITH hourly AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS hour,
             ROUND(CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS v
      FROM events GROUP BY event_type, hour),
    axis AS (
      SELECT event_type, UNNEST(range(MIN(hour), MAX(hour) + 1)) AS hour
      FROM hourly GROUP BY event_type),
    dense AS (
      SELECT a.event_type, a.hour, h.v
      FROM axis a LEFT JOIN hourly h ON a.event_type = h.event_type AND a.hour = h.hour),
    nb AS (
      SELECT event_type, hour, v,
             LAST_VALUE(v IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY hour
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
             LAST_VALUE(CASE WHEN v IS NOT NULL THEN hour END IGNORE NULLS)
               OVER (PARTITION BY event_type ORDER BY hour
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
             FIRST_VALUE(v IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY hour
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             FIRST_VALUE(CASE WHEN v IS NOT NULL THEN hour END IGNORE NULLS)
               OVER (PARTITION BY event_type ORDER BY hour
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
      FROM dense)
    SELECT event_type, hour,
           CASE
             WHEN v IS NOT NULL THEN v
             WHEN pv IS NULL THEN nv
             WHEN nv IS NULL THEN pv
             ELSE ROUND(pv + (nv - pv) * (CAST(hour - pt AS DOUBLE) / CAST(nt - pt AS DOUBLE)), 6)
           END AS value_filled,
           (v IS NULL) AS interpolated
    FROM nb
    """,
)
def q165_interpolated_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hour = (F.unix_micros("ts") / F.lit(3600000000)).cast("bigint")
    hourly = (
        ev.groupBy("event_type", hour.alias("hour"))
        .agg(
            F.round(
                F.sum(F.round("value", 6).cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("v")
        )
    )
    axis = (
        hourly.groupBy("event_type")
        .agg(F.min("hour").alias("lo"), F.max("hour").alias("hi"))
        .select("event_type", F.explode(F.sequence("lo", "hi")).alias("hour"))
    )
    dense = axis.join(hourly, ["event_type", "hour"], "left")
    wb = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_hour = F.when(F.col("v").isNotNull(), F.col("hour"))
    nb = dense.select(
        "event_type",
        "hour",
        "v",
        F.last("v", ignorenulls=True).over(wb).alias("pv"),
        F.last(obs_hour, ignorenulls=True).over(wb).alias("pt"),
        F.first("v", ignorenulls=True).over(wf).alias("nv"),
        F.first(obs_hour, ignorenulls=True).over(wf).alias("nt"),
    )
    interp = F.round(
        F.col("pv")
        + (F.col("nv") - F.col("pv"))
        * ((F.col("hour") - F.col("pt")).cast("double") / (F.col("nt") - F.col("pt")).cast("double")),
        6,
    )
    return nb.select(
        "event_type",
        "hour",
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("pv").isNull(), F.col("nv"))
        .when(F.col("nv").isNull(), F.col("pv"))
        .otherwise(interp)
        .alias("value_filled"),
        F.col("v").isNull().alias("interpolated"),
    )


# ---------------------------------------------------------------------------
# q166 — session bounce rate: share of q46 sessions containing exactly
# one event, per user-activity bucket (light/medium/heavy by session
# count). Rides the exact session construction; rates rounded from
# integer ratios.
# ---------------------------------------------------------------------------
@register(
    "q166_bounce_rate",
    oracle=f"""
    WITH o AS (
      SELECT user_id, epoch_us(ts) AS t,
             LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_t
      FROM events),
    flagged AS (
      SELECT user_id, t,
             CASE WHEN prev_t IS NULL OR t - prev_t >= {_SESS_GAP_US} THEN 1 ELSE 0 END AS new_sess
      FROM o),
    numbered AS (
      SELECT user_id, t, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY t
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_num
      FROM flagged),
    sess AS (SELECT user_id, sess_num, COUNT(*) AS n_events
             FROM numbered GROUP BY user_id, sess_num),
    per_user AS (
      SELECT user_id, COUNT(*) AS n_sessions,
             SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS n_bounces
      FROM sess GROUP BY user_id),
    bucketed AS (
      SELECT CASE WHEN n_sessions >= 30 THEN 'heavy'
                  WHEN n_sessions >= 15 THEN 'medium' ELSE 'light' END AS activity,
             n_sessions, n_bounces
      FROM per_user)
    SELECT activity, COUNT(*) AS n_users,
           CAST(SUM(n_sessions) AS BIGINT) AS n_sessions,
           CAST(SUM(n_bounces) AS BIGINT) AS n_bounces,
           ROUND(CAST(SUM(n_bounces) AS DOUBLE) / SUM(n_sessions), 6) AS bounce_rate
    FROM bucketed GROUP BY activity
    """,
)
def q166_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    sess = ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("sw")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    per_user = sess.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0)).alias("n_bounces"),
    )
    activity = (
        F.when(F.col("n_sessions") >= 30, "heavy")
        .when(F.col("n_sessions") >= 15, "medium")
        .otherwise("light")
    )
    return (
        per_user.select(activity.alias("activity"), "n_sessions", "n_bounces")
        .groupBy("activity")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("n_sessions").alias("n_sessions"),
            F.sum("n_bounces").alias("n_bounces"),
            F.round(
                F.sum("n_bounces").cast("double") / F.sum("n_sessions"), 6
            ).alias("bounce_rate"),
        )
    )


# ---------------------------------------------------------------------------
# q240 — VARIABLE-gap sessionization: Spark's dynamic session_window
# (per-event inactivity horizon by event_type: click 10 min / view
# 30 min / else 15 min). Each event opens [ts, ts+gap); overlapping
# windows per user merge, so the batch oracle is the interval-union
# islands construction: new session when t >= running MAX of prior
# (t + gap). All comparisons in exact epoch MICROSECONDS (the q129/q46
# precision lesson — never compare on floored seconds); only the OUTPUT
# keys floor to seconds.
# ---------------------------------------------------------------------------
@register(
    "q240_dynamic_sessions",
    oracle="""
    WITH o AS (
      SELECT user_id, epoch_us(ts) AS t_us,
             CASE event_type WHEN 'click' THEN 600000000
                             WHEN 'view' THEN 1800000000
                             ELSE 900000000 END AS gap_us
      FROM events),
    runend AS (
      SELECT user_id, t_us,
             MAX(t_us + gap_us) OVER (PARTITION BY user_id ORDER BY t_us
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
      FROM o),
    flagged AS (
      SELECT user_id, t_us,
             CASE WHEN prev_end IS NULL OR t_us >= prev_end THEN 1 ELSE 0 END AS new_sess
      FROM runend),
    numbered AS (
      SELECT user_id, t_us,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY t_us
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_num
      FROM flagged)
    SELECT user_id,
           CAST(MIN(t_us // 1000000) AS BIGINT) AS session_start_s,
           COUNT(*) AS n_events,
           CAST(MAX(t_us // 1000000) - MIN(t_us // 1000000) AS BIGINT) AS duration_s
    FROM numbered GROUP BY user_id, sess_num
    """,
)
def q240_dynamic_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    gap = (
        F.when(F.col("event_type") == "click", "10 minutes")
        .when(F.col("event_type") == "view", "30 minutes")
        .otherwise("15 minutes")
    )
    return session_stats(ev, gap)


# ---------------------------------------------------------------------------
# q276 — ES pipeline aggregations over a date_histogram: the
# `cumulative_sum`, `derivative`, and `moving_fn`(avg, window=7) sibling
# aggs Elasticsearch layers on a date_histogram bucket response
# (reference stack surface: the ES DSL family; the reference's own
# queries stop at flat aggs). Daily revenue buckets over `orders`;
# per-bucket revenue is an exact DECIMAL(18,2) sum so every derived
# pipeline value (running sum, first difference, 7-bucket moving mean)
# is order-stable and bit-identical across engines. First-bucket
# derivative is NULL, exactly as ES emits it; moving_fn averages the
# partial window at the head, as ES does.
#
# Shape (100 TB): one shuffle to the day-grain aggregate; the pipeline
# window functions then run over the *bucket frame* — date_histogram
# cardinality (one row per day), which is small by construction, same
# as the single ES agg response the pipeline aggs walk.
# ---------------------------------------------------------------------------
@register(
    "q276_es_pipeline_aggs",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY day)
    SELECT strftime(day, '%Y-%m-%d') AS day,
           ROUND(CAST(rev AS DOUBLE), 2) AS revenue,
           ROUND(CAST(SUM(rev) OVER (ORDER BY day
                   ROWS UNBOUNDED PRECEDING) AS DOUBLE), 2) AS cum_revenue,
           ROUND(CAST(rev - LAG(rev) OVER (ORDER BY day) AS DOUBLE), 2) AS deriv,
           ROUND(CAST(SUM(rev) OVER (ORDER BY day
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE)
                 / COUNT(*) OVER (ORDER BY day
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS mov7_avg
    FROM daily ORDER BY day
    """,
)
def q276_es_pipeline_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        load_table(spark, sf_dir, "orders")
        .select(
            F.to_date("o_orderdate").alias("day"),
            F.col("o_totalprice").cast("decimal(18,2)").alias("p"),
        )
        .groupBy("day")
        .agg(F.sum("p").alias("rev"))
    )
    w_cum = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    w_mov = Window.orderBy("day").rowsBetween(-6, 0)
    w_lag = Window.orderBy("day")
    return daily.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.round(F.col("rev").cast("double"), 2).alias("revenue"),
        F.round(F.sum("rev").over(w_cum).cast("double"), 2).alias("cum_revenue"),
        F.round(
            (F.col("rev") - F.lag("rev").over(w_lag)).cast("double"), 2
        ).alias("deriv"),
        F.round(
            F.sum("rev").over(w_mov).cast("double")
            / F.count(F.lit(1)).over(w_mov),
            4,
        ).alias("mov7_avg"),
    ).orderBy("day")


# ---------------------------------------------------------------------------
# q53 — date part extraction + grouped revenue by month
# ---------------------------------------------------------------------------
@register(
    "q53_date_parts",
    oracle=f"""
    SELECT CAST(date_part('year', o_orderdate) AS INT) AS yr,
           CAST(date_part('month', o_orderdate) AS INT) AS mo,
           COUNT(*) AS n_orders,
           {exact_sum_sql("o_totalprice", 2)} AS total
    FROM orders
    GROUP BY yr, mo
    """,
)
def q53_date_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.year("o_orderdate").alias("yr"), F.month("o_orderdate").alias("mo")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            exact_sum("o_totalprice", 2).alias("total"),
        )
    )


# ---------------------------------------------------------------------------
# q59 — as-of join: each event annotated with the timestamp of the user's
# most recent prior (or simultaneous) 'signup' event. Implemented as a
# running window max — the single-table as-of form; the two-table form is
# a union + same window (no row-by-row lookup, no range join explosion).
# ---------------------------------------------------------------------------
@register(
    "q59_asof_join",
    oracle="""
    SELECT event_id, user_id,
           CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
           CAST(floor(epoch(
             MAX(CASE WHEN event_type = 'signup' THEN ts END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           )) AS BIGINT) AS last_signup_s
    FROM events
    """,
)
def q59_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    last_signup = F.max(
        F.when(F.col("event_type") == "signup", F.col("ts"))
    ).over(w)
    return ev.select(
        "event_id",
        "user_id",
        F.col("ts").cast("long").alias("ts_s"),
        last_signup.cast("long").alias("last_signup_s"),
    )


# ---------------------------------------------------------------------------
# q65 — window frames: running total + lead/lag deltas per customer
# ---------------------------------------------------------------------------
@register(
    "q65_running_window",
    oracle=f"""
    SELECT o_custkey, o_orderkey,
           ROUND(CAST(SUM({dec_sql("o_totalprice")})
                 OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 2) AS running_total,
           CAST(LAG(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS prev_order
    FROM orders WHERE o_custkey <= 100
    """,
)
def q65_running_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 100)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(
            F.sum(dec("o_totalprice")).over(wf).cast("double"), 2
        ).alias("running_total"),
        F.lag("o_orderkey").over(w).cast("bigint").alias("prev_order"),
    )


# q66 drives the actual Structured Streaming path (readStream → watermarked
# tumbling agg → availableNow drain in COMPLETE mode) and returns the
# drained result as a batch frame. Complete mode emits every window, and
# the streaming agg uses the exact-DECIMAL sum discipline, so the drained
# output is bit-identical to batch q44, whose oracle it shares;
# tests/test_streaming.py proves the equivalence end-to-end.
@register("q66_streaming_tumbling", oracle=TUMBLING_ORACLE)
def q66_streaming_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from ..streaming.windows import run_stream_to_memory, stream_events

    name = f"q66_sink_{uuid.uuid4().hex[:8]}"
    run_stream_to_memory(tumbling_counts(stream_events(spark, sf_dir)), name)
    return spark.table(name)


# ---------------------------------------------------------------------------
# q114 — streaming exact dedup: dropDuplicatesWithinWatermark over the
# events stream, drained with availableNow. The fixture spans ~1 month,
# so a 90-day horizon makes the streaming result provably equal to batch
# DISTINCT — which is the oracle (the one streaming query in the catalog
# with a full hash-checked oracle, not rows-only). Bounded state at
# scale: per-key state evicts once the watermark passes first-seen + 90d.
# ---------------------------------------------------------------------------
@register(
    "q114_streaming_dedup",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def q114_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from ..streaming.windows import dedup_stream, run_stream_to_memory, stream_events

    name = f"q114_sink_{uuid.uuid4().hex[:8]}"
    run_stream_to_memory(
        dedup_stream(stream_events(spark, sf_dir), watermark="90 days"),
        name,
        output_mode="append",
    )
    return spark.table(name)


# ---------------------------------------------------------------------------
# q124 — stream-static enrichment join: the events STREAM joins the
# static customer dimension per micro-batch (stateless; the dim is
# re-read each trigger so dim updates flow without restart). Drained
# with availableNow the result equals the batch join exactly, so this
# streaming query carries a full hash oracle (q114's pattern).
# ---------------------------------------------------------------------------
@register(
    "q124_stream_static_join",
    oracle="""
    SELECT e.event_id, e.event_type, c.c_nationkey
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    """,
)
def q124_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from ..sources.readers import load_table as _lt
    from ..streaming.windows import enrich_stream, run_stream_to_memory, stream_events

    dim = _lt(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    joined = enrich_stream(
        stream_events(spark, sf_dir), dim, key="user_id", dim_key="c_custkey"
    ).select("event_id", "event_type", "c_nationkey")
    name = f"q124_sink_{uuid.uuid4().hex[:8]}"
    run_stream_to_memory(joined, name, output_mode="append")
    return spark.table(name)


# ---------------------------------------------------------------------------
# q164 — week-over-week growth: weekly exact-decimal revenue with lag
# deltas and percent change (the reporting rollup every finance
# dashboard runs). Week = epoch-day // 7 (timezone-free, no calendar
# ambiguity); pct change NULL for the first week, rounded from a single
# double division.
# ---------------------------------------------------------------------------
@register(
    "q164_wow_growth",
    oracle="""
    WITH w AS (
      SELECT (epoch_us(o_orderdate) // 86400000000) // 7 AS week,
             SUM(CAST(ROUND(o_totalprice, 2) AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY week)
    SELECT week, ROUND(CAST(rev AS DOUBLE), 2) AS rev,
           ROUND(CAST(rev - LAG(rev) OVER (ORDER BY week) AS DOUBLE), 2) AS delta,
           ROUND(CAST(rev - LAG(rev) OVER (ORDER BY week) AS DOUBLE)
                 / CAST(LAG(rev) OVER (ORDER BY week) AS DOUBLE), 6) AS pct_change
    FROM w
    """,
)
def q164_wow_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    # o_orderdate arrives as TIMESTAMP_NTZ (parquet without UTC
    # adjustment); pure NTZ arithmetic == DuckDB's epoch_us of a naive
    # timestamp, with no session-timezone coercion (readers.py lesson).
    micros = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', o_orderdate)"
    )
    week = (micros / F.lit(86400000000)).cast("bigint") / 7
    w = (
        orders.groupBy(week.cast("bigint").alias("week"))
        .agg(F.sum(F.round("o_totalprice", 2).cast("decimal(18,2)")).alias("rev"))
    )
    lag = F.lag("rev").over(Window.orderBy("week"))
    return w.select(
        "week",
        F.round(F.col("rev").cast("double"), 2).alias("rev"),
        F.round((F.col("rev") - lag).cast("double"), 2).alias("delta"),
        F.round((F.col("rev") - lag).cast("double") / lag.cast("double"), 6).alias(
            "pct_change"
        ),
    )


# ---------------------------------------------------------------------------
# q168 — out-of-order (late-data) audit: the observability metric every
# event-time streaming pipeline tracks to SIZE ITS WATERMARK — per
# event_type, how many events arrive behind the per-user running
# maximum event time (ordered by event_id as arrival order), the p95 of
# that lateness, and the max. Lateness in whole seconds from
# full-precision microsecond running maxima; exact interpolated p95.
# ---------------------------------------------------------------------------
@register(
    "q168_lateness_audit",
    oracle="""
    WITH o AS (
      SELECT event_type, epoch_us(ts) AS t,
             MAX(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
      FROM events),
    lat AS (
      SELECT event_type,
             CASE WHEN prev_max IS NOT NULL AND prev_max > t
                  THEN (prev_max - t) // 1000000 ELSE 0 END AS late_s,
             CASE WHEN prev_max IS NOT NULL AND prev_max > t THEN 1 ELSE 0 END AS is_late
      FROM o)
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(is_late) AS BIGINT) AS n_late,
           ROUND(CAST(SUM(is_late) AS DOUBLE) / COUNT(*), 6) AS late_share,
           ROUND(quantile_cont(late_s, 0.95), 6) AS p95_late_s,
           CAST(MAX(late_s) AS BIGINT) AS max_late_s
    FROM lat GROUP BY event_type
    """,
)
def q168_lateness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    t = F.unix_micros("ts")
    o = ev.select("event_type", t.alias("t"), F.max(t).over(w).alias("prev_max"))
    is_late = F.col("prev_max").isNotNull() & (F.col("prev_max") > F.col("t"))
    lat = o.select(
        "event_type",
        F.when(is_late, ((F.col("prev_max") - F.col("t")) / 1000000).cast("bigint"))
        .otherwise(F.lit(0).cast("bigint"))
        .alias("late_s"),
        F.when(is_late, 1).otherwise(0).alias("is_late"),
    )
    return lat.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("is_late").cast("bigint").alias("n_late"),
        F.round(F.sum("is_late").cast("double") / F.count(F.lit(1)), 6).alias("late_share"),
        F.round(F.expr("percentile(late_s, 0.95)"), 6).alias("p95_late_s"),
        F.max("late_s").cast("bigint").alias("max_late_s"),
    )


# ---------------------------------------------------------------------------
# q191 — lagged feature matrix for forecasting (the feature-engineering
# feeder for the q52/q131 model family): per event_type daily
# exact-DECIMAL value sums on the integer UTC day axis, with lag-1,
# lag-7 and a 7-day trailing mean (current day excluded) as features,
# emitted only for rows where all features exist. ROWS-window semantics
# are deliberate (the daily axis is dense per type in this corpus; a
# production variant composes with q118's gap fill first — documented
# trade-off). One key-partitioned window stack over the tiny rollup.
# The trailing mean divides the exact DECIMAL 7-day sum by 7 in double.
# ---------------------------------------------------------------------------
@register(
    "q191_lag_features",
    oracle=f"""
    WITH daily AS (
      SELECT event_type,
             CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
             SUM({dec_sql("value")}) AS y
      FROM events GROUP BY event_type, day),
    f AS (
      SELECT event_type, day,
             CAST(y AS DOUBLE) AS y,
             CAST(LAG(y, 1) OVER w AS DOUBLE) AS lag1,
             CAST(LAG(y, 7) OVER w AS DOUBLE) AS lag7,
             CAST(SUM(y) OVER (w ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS DOUBLE) / 7.0
               AS ma7,
             COUNT(*) OVER (w ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS nprev
      FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day))
    SELECT event_type, day, ROUND(y, 2) AS y, ROUND(lag1, 2) AS lag1,
           ROUND(lag7, 2) AS lag7, ROUND(ma7, 6) AS ma7
    FROM f WHERE lag7 IS NOT NULL AND nprev = 7
    """,
)
def q191_lag_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", (F.col("ts").cast("long") / 86400).cast("bigint").alias("day")
    ).agg(F.sum(dec("value")).alias("y"))
    w = Window.partitionBy("event_type").orderBy("day")
    w7 = w.rowsBetween(-7, -1)
    f = daily.select(
        "event_type",
        "day",
        F.col("y").cast("double").alias("yd"),
        F.lag("y", 1).over(w).cast("double").alias("lag1"),
        F.lag("y", 7).over(w).cast("double").alias("lag7"),
        (F.sum("y").over(w7).cast("double") / 7.0).alias("ma7"),
        F.count(F.lit(1)).over(w7).alias("nprev"),
    )
    return f.filter(F.col("lag7").isNotNull() & (F.col("nprev") == 7)).select(
        "event_type",
        "day",
        F.round("yd", 2).alias("y"),
        F.round("lag1", 2).alias("lag1"),
        F.round("lag7", 2).alias("lag7"),
        F.round("ma7", 6).alias("ma7"),
    )


# ---------------------------------------------------------------------------
# q198 — interval-overlap seconds between session sets (ad-viewability
# / co-activity algebra; the pairwise-overlap complement of q145's
# sweep-line concurrency): per user, 30-minute-gap sessions built
# separately from 'view' and 'click' events (q46's session_window), then
# every overlapping (view-session, click-session) pair contributes
# (session intervals extend 1800s past the last event — the activity
# window includes the inactivity timeout, the standard viewability
# convention; without it singleton sessions are zero-length points)
# max(0, min(ends) - max(starts)) whole seconds. The pair join is
# user-partitioned (session counts per user are small and bounded by
# the sessionizer) — never a global interval cross join. Session
# bounds use floored-epoch seconds in BOTH engines.
# ---------------------------------------------------------------------------
@register(
    "q198_interval_overlap",
    oracle="""
    WITH base AS (
      SELECT user_id, event_type, epoch(ts) AS t, event_id FROM events
      WHERE event_type IN ('view', 'click')),
    o AS (
      SELECT user_id, event_type, t, event_id,
             LAG(t) OVER (PARTITION BY user_id, event_type ORDER BY t, event_id) AS prev_t
      FROM base),
    f AS (SELECT *, CASE WHEN prev_t IS NULL OR t - prev_t >= 1800 THEN 1 ELSE 0 END AS new_s
          FROM o),
    g AS (SELECT *, SUM(new_s) OVER (PARTITION BY user_id, event_type
                                     ORDER BY t, event_id) AS sid
          FROM f),
    sess AS (
      SELECT user_id, event_type, sid,
             CAST(floor(MIN(t)) AS BIGINT) AS s,
             CAST(floor(MAX(t)) AS BIGINT) + 1800 AS e
      FROM g GROUP BY user_id, event_type, sid),
    pairs AS (
      SELECT v.user_id,
             greatest(0, least(v.e, c.e) - greatest(v.s, c.s)) AS ov
      FROM sess v JOIN sess c
        ON v.user_id = c.user_id AND v.event_type = 'view' AND c.event_type = 'click'
      WHERE least(v.e, c.e) >= greatest(v.s, c.s))
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_overlapping_pairs,
           CAST(SUM(ov) AS BIGINT) AS overlap_s
    FROM pairs GROUP BY user_id
    """,
)
def q198_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "click")
    )
    sess = (
        ev.groupBy("user_id", "event_type", F.session_window("ts", "30 minutes"))
        .agg(
            F.min(F.col("ts").cast("long")).alias("s"),
            (F.max(F.col("ts").cast("long")) + F.lit(1800)).alias("e"),
        )
        .select("user_id", "event_type", "s", "e")
    )
    v = sess.filter(F.col("event_type") == "view").select(
        "user_id", F.col("s").alias("vs"), F.col("e").alias("ve")
    )
    c = sess.filter(F.col("event_type") == "click").select(
        "user_id", F.col("s").alias("cs"), F.col("e").alias("ce")
    )
    lo = F.greatest(F.col("vs"), F.col("cs"))
    hi = F.least(F.col("ve"), F.col("ce"))
    pairs = v.join(c, "user_id").filter(hi >= lo).select(
        "user_id", F.greatest(F.lit(0), hi - lo).alias("ov")
    )
    return pairs.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_overlapping_pairs"),
        F.sum("ov").cast("bigint").alias("overlap_s"),
    )


# ---------------------------------------------------------------------------
# q170 — latest-snapshot compaction (the Kafka-log-compaction /
# CDC-read pattern): per (user_id, event_type) key, keep only the most
# recent record by full-precision (ts, event_id). One window top-1 per
# key — at 100 TB this is the nightly compaction that bounds table
# growth; at read time the same window is the "current state" view.
# ---------------------------------------------------------------------------
LATEST_PER_KEY_ORACLE = """
    SELECT user_id, event_type, event_id AS last_event_id,
           epoch_us(ts) // 1000000 AS last_ts_s,
           ROUND(value, 6) AS last_value
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
    WHERE rn = 1
    """


# ---------------------------------------------------------------------------
# q211 — STREAMING latest-value materialization, hash-oracled (the
# incremental twin of q170, via applyInPandasWithState — see
# streaming/stateful.latest_per_key): drain the update stream with
# availableNow into a memory sink, compact the update log by
# max-(ts_us, event_id) per key (the CDC-log read pattern; a no-op for
# a single-batch drain), and the result is bit-identical to batch
# q170 — which IS the oracle.
# ---------------------------------------------------------------------------
@register("q211_streaming_latest", oracle=LATEST_PER_KEY_ORACLE)
def q211_streaming_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from ..streaming.stateful import latest_per_key
    from ..streaming.windows import run_stream_to_memory, stream_events

    name = f"q211_sink_{uuid.uuid4().hex[:8]}"
    # shuffle_partitions=None: this drain is PYTHON-stateful
    # (applyInPandasWithState), so its cost is Arrow-batch work across
    # Python workers — parallelism-bound, not state-store-bound; the
    # low-partition default that speeds the JVM-stateful drains (q87 et
    # al.) would serialize it onto 8 workers (measured +27% at sf1).
    run_stream_to_memory(
        latest_per_key(stream_events(spark, sf_dir)),
        name,
        output_mode="update",
        shuffle_partitions=None,
    )
    log = spark.table(name)
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.desc("ts_us"), F.desc("last_event_id")
    )
    return (
        log.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            "last_event_id",
            (F.col("ts_us") / 1000000).cast("bigint").alias("last_ts_s"),
            F.round("last_value", 6).alias("last_value"),
        )
    )


# ---------------------------------------------------------------------------
# q225 — activity punch card (DOW x hour intensity matrix; epoch
# arithmetic only — day-of-week = (epoch_day + 4) % 7 with 0=Sunday,
# anchored at 1970-01-01 being a Thursday — never a session-tz
# dayofweek()): counts and exact-decimal value sums per cell. One
# groupBy; 168 output rows at any scale.
# ---------------------------------------------------------------------------
@register(
    "q225_punchcard",
    oracle=f"""
    SELECT CAST((CAST(floor(epoch(ts)) AS BIGINT) // 86400 + 4) % 7 AS INT) AS dow,
           CAST((CAST(floor(epoch(ts)) AS BIGINT) % 86400) // 3600 AS INT) AS hour,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {exact_sum_sql("value", 2)} AS sum_value
    FROM events GROUP BY dow, hour
    """,
)
def q225_punchcard(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    es = F.col("ts").cast("long")
    return (
        ev.groupBy(
            (((es / 86400).cast("bigint") + 4) % 7).cast("int").alias("dow"),
            ((es % 86400) / 3600).cast("int").alias("hour"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            exact_sum("value", 2).alias("sum_value"),
        )
    )


# ---------------------------------------------------------------------------
# q227 — inter-arrival time distribution per event_type (the latency
# histogram that sizes q143/q168's watermarks): full-precision lag
# deltas, log2-binned (floor(log2(gap_s)) with a <1s bucket), counts
# and share per bin. One per-key lag window + one groupBy.
# ---------------------------------------------------------------------------
@register(
    "q227_interarrival_histogram",
    oracle="""
    WITH d AS (
      SELECT event_type,
             epoch(ts) - LAG(epoch(ts)) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS gap
      FROM events),
    b AS (
      SELECT event_type,
             CASE WHEN gap < 1 THEN -1
                  ELSE CAST(floor(ln(gap) / ln(2)) AS INT) END AS bin
      FROM d WHERE gap IS NOT NULL),
    t AS (SELECT event_type, COUNT(*) AS total FROM b GROUP BY event_type)
    SELECT b.event_type, CAST(b.bin AS INT) AS log2_bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CAST(COUNT(*) AS DOUBLE) / t.total, 6) AS share
    FROM b JOIN t ON b.event_type = t.event_type
    GROUP BY b.event_type, b.bin, t.total
    """,
)
def q227_interarrival_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    t = F.unix_micros(F.col("ts")).cast("double") / 1e6
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    d = ev.select("event_type", (t - F.lag(t).over(w)).alias("gap")).filter(
        F.col("gap").isNotNull()
    )
    b = d.select(
        "event_type",
        F.when(F.col("gap") < 1, -1)
        .otherwise(F.floor(F.log(F.col("gap")) / F.log(F.lit(2.0))).cast("int"))
        .alias("log2_bin"),
    )
    tt = b.groupBy("event_type").agg(F.count(F.lit(1)).alias("total"))
    return (
        b.groupBy("event_type", "log2_bin")
        .agg(F.count(F.lit(1)).alias("n"))
        .join(F.broadcast(tt), "event_type")
        .select(
            "event_type",
            F.col("log2_bin").cast("int").alias("log2_bin"),
            F.col("n").cast("bigint").alias("n"),
            F.round(F.col("n").cast("double") / F.col("total"), 6).alias("share"),
        )
    )


# ---------------------------------------------------------------------------
# q242 — streaming foreachBatch UPSERT SINK, hash-oracled: the
# exactly-once-shaped sink pattern q211's stateful operator feeds in
# production. The event log is first re-sharded into 3 time-sliced
# files (so the SAME keys recur across micro-batches and the merge
# genuinely overwrites), then drained one file per trigger; each batch
# merges latest-per-(user,event_type) into a parquet state table. The
# merge is an idempotent fold (replay-safe — proven by re-applying a
# batch in tests/test_streaming.py), so the final state equals batch
# q211/q170 semantics — which IS the oracle.
# ---------------------------------------------------------------------------
@register("q242_stream_upsert_sink", oracle=LATEST_PER_KEY_ORACLE)
def q242_stream_upsert_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import uuid

    from ..streaming.windows import foreachbatch_upsert_run

    base = os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
        ".tmp", f"q242_{uuid.uuid4().hex[:8]}",
    )
    src, state = os.path.join(base, "src"), os.path.join(base, "state")
    ev = load_table(spark, sf_dir, "events")
    # 3 time slices -> 3 micro-batches touching the SAME keys
    ev.repartitionByRange(3, "ts").write.mode("overwrite").parquet(src)
    foreachbatch_upsert_run(spark, src, state)
    out = (
        spark.read.parquet(state)
        .select(
            "user_id", "event_type",
            F.col("event_id").alias("last_event_id"),
            F.col("ts").cast("long").alias("last_ts_s"),
            F.round("value", 6).alias("last_value"),
        )
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(base, ignore_errors=True)
    return out


# ---------------------------------------------------------------------------
# q361 — Structured Streaming HOPPING window (1h size / 30m slide):
# each event contributes to exactly two overlapping windows; counts per
# (window, event_type) drained complete-mode from a real readStream →
# memory-sink run (streaming/windows.py:hopping_counts). The oracle
# reproduces the double assignment arithmetically: window starts are
# (epoch DIV 1800)*1800 and the slot before it. Completes the
# streaming-window family (q66 tumbling, q143 session, q44/q45 batch
# forms) with the sliding/hopping shape.
#
# Shape (100 TB stream): state per key is bounded by the watermark
# horizon × 2 live windows per slide; the memory sink is the test
# harness — production writes the same frame to parquet/Kafka.
# ---------------------------------------------------------------------------
@register(
    "q361_stream_hopping",
    oracle="""
    WITH e AS (
      SELECT event_type,
             CAST(floor(epoch(ts) / 1800) AS BIGINT) * 1800 AS s0 FROM events),
    w AS (
      SELECT event_type, s0 - off AS window_start_s
      FROM e, (SELECT UNNEST([0, 1800]) AS off))
    SELECT CAST(window_start_s AS BIGINT) AS window_start_s, event_type,
           COUNT(*) AS n_events
    FROM w GROUP BY 1, 2
    """,
)
def q361_stream_hopping(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from ..streaming.windows import hopping_counts, run_stream_to_memory, stream_events

    name = f"q361_sink_{uuid.uuid4().hex[:8]}"
    run_stream_to_memory(hopping_counts(stream_events(spark, sf_dir)), name)
    return spark.table(name)
