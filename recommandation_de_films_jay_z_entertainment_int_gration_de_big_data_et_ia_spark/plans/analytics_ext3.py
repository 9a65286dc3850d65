"""Round-7 catalog extensions — the remaining Elasticsearch metric /
bucket aggregations and search constructs not yet covered (extended_stats,
percentile_ranks, string_stats, weighted_avg, multi_terms, geotile_grid,
rate, boxplot, serial_diff/moving_fn, regexp, match_bool_prefix,
span_near, frequent_item_sets, categorize_text), plus LLM-pipeline
operators (length-bucketed batching, tokenizer fertility, quality
curriculum).

The reference delegates all querying to Elasticsearch (docker-compose.yml
runs the full ES stack; src/api.py uses the flat-query subset) — these
entries complete the ES DSL aggregation surface a user of that stack can
issue, re-expressed as Catalyst plans with DuckDB oracles.

Determinism discipline (see catalog.py): exact DECIMAL sums before any
double cast, integer-arithmetic bucket boundaries (never float-derived),
ln-based entropy terms rounded to 12 before the decimal fold, identical
alias names in Spark and SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import TOKS_SQL, distinct_tokens_sorted, tokens
from ..sources.readers import load_table
from .catalog import register

# natural log of 2 as a shared literal so both engines divide by the
# identical double (log2 via ln avoids engine-specific log2 builtins)
_LN2 = 0.6931471805599453


# ---------------------------------------------------------------------------
# q288 — ES `extended_stats` aggregation: count/min/max/sum/avg plus
# population variance, std deviation and the sigma=2 std-bounds, per
# l_returnflag bucket over l_extendedprice.
#
# Determinism: sum and sum-of-squares are exact DECIMAL folds (price has
# 2 fraction digits, its square 4; DECIMAL(38,4) holds the fold exactly
# at any SF), then ONE cast to double and the same double expression
# tree on both engines: var = sumsq/n - (sum/n)*(sum/n).
#
# Shape (100 TB): single map-side-combinable groupBy — one shuffle of
# 3 rows per partition. The textbook scan-bound metric agg.
# ---------------------------------------------------------------------------
@register(
    "q288_extended_stats",
    oracle="""
    WITH s AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS BIGINT) AS n,
             MIN(l_extendedprice) AS min_price,
             MAX(l_extendedprice) AS max_price,
             SUM(CAST(l_extendedprice AS DECIMAL(38,4))) AS dsum,
             SUM(CAST(l_extendedprice AS DECIMAL(38,4))
                 * CAST(l_extendedprice AS DECIMAL(38,4))) AS dsumsq
      FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag, n,
           ROUND(CAST(min_price AS DOUBLE), 2) AS min_price,
           ROUND(CAST(max_price AS DOUBLE), 2) AS max_price,
           ROUND(CAST(dsum AS DOUBLE), 2) AS sum_price,
           ROUND(CAST(dsum AS DOUBLE) / n, 6) AS avg_price,
           ROUND(CAST(dsumsq AS DOUBLE) / n
                 - (CAST(dsum AS DOUBLE) / n) * (CAST(dsum AS DOUBLE) / n),
                 4) AS var_pop,
           ROUND(sqrt(CAST(dsumsq AS DOUBLE) / n
                 - (CAST(dsum AS DOUBLE) / n) * (CAST(dsum AS DOUBLE) / n)),
                 6) AS std_pop
    FROM s ORDER BY l_returnflag
    """,
)
def q288_extended_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    dec = F.col("l_extendedprice").cast("decimal(38,4)")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.min("l_extendedprice").alias("min_price_d"),
        F.max("l_extendedprice").alias("max_price_d"),
        F.sum(dec).alias("dsum"),
        F.sum(dec * dec).alias("dsumsq"),
    )
    n = F.col("n")
    dsum = F.col("dsum").cast("double")
    dsumsq = F.col("dsumsq").cast("double")
    var = dsumsq / n - (dsum / n) * (dsum / n)
    return s.select(
        "l_returnflag",
        "n",
        F.round(F.col("min_price_d").cast("double"), 2).alias("min_price"),
        F.round(F.col("max_price_d").cast("double"), 2).alias("max_price"),
        F.round(dsum, 2).alias("sum_price"),
        F.round(dsum / n, 6).alias("avg_price"),
        F.round(var, 4).alias("var_pop"),
        F.round(F.sqrt(var), 6).alias("std_pop"),
    ).orderBy("l_returnflag")


# ---------------------------------------------------------------------------
# q289 — ES `percentile_ranks` aggregation: for fixed probe values, the
# percentage of the bucket's l_quantity values that are <= the probe.
# ES computes this approximately (t-digest); at engine level the exact
# count ratio is both the semantics and the oracle-stable choice —
# the approximate path for 100-TB interactive use is q121's KLL sketch.
#
# Shape (100 TB): the probes unpivot is a 3x row-local explode BEFORE
# the groupBy, so the plan is still one map-combinable shuffle keyed by
# (bucket, probe) — 15 result rows total regardless of input size.
# ---------------------------------------------------------------------------
_PR_PROBES = (10, 25, 40)


@register(
    "q289_percentile_ranks",
    oracle=f"""
    WITH u AS (
      SELECT l_returnflag, probe,
             CASE WHEN l_quantity <= probe THEN 1 ELSE 0 END AS le
      FROM lineitem, (SELECT UNNEST({list(_PR_PROBES)!r}) AS probe))
    SELECT l_returnflag, CAST(probe AS BIGINT) AS probe,
           ROUND(100.0 * SUM(le) / COUNT(*), 6) AS pct_rank
    FROM u GROUP BY l_returnflag, probe ORDER BY l_returnflag, probe
    """,
)
def q289_percentile_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    u = li.select(
        "l_returnflag",
        "l_quantity",
        F.explode(F.array(*[F.lit(p) for p in _PR_PROBES])).alias("probe"),
    )
    le = F.when(F.col("l_quantity") <= F.col("probe"), 1).otherwise(0)
    return (
        u.groupBy("l_returnflag", F.col("probe").cast("bigint").alias("probe"))
        .agg(
            F.round(F.lit(100.0) * F.sum(le) / F.count(F.lit(1)), 6).alias("pct_rank"),
        )
        .orderBy("l_returnflag", "probe")
    )


# ---------------------------------------------------------------------------
# q290 — ES `string_stats` aggregation (with show_distribution's entropy)
# per lang over documents.text: doc count, min/max/avg raw string length,
# and the Shannon entropy (bits) of the bucket's CHARACTER distribution.
#
# Entropy determinism: per-(lang, char) counts are exact; each p*log2(p)
# term is computed as p*ln(p)/LN2 with LN2 a shared literal, rounded to
# 12 digits, folded as DECIMAL (the q182 pattern), and the final sum
# rounded to 6.
#
# Shape (100 TB): the char explode multiplies rows by avg doc length,
# but the very next operator is a map-side-combinable count keyed by
# (lang, char) — cardinality ~ langs x alphabet, so the shuffle moves
# kilobytes. Length stats ride a separate 1-shuffle agg; the two tiny
# aggregates broadcast-join at the end.
# ---------------------------------------------------------------------------
@register(
    "q290_string_stats",
    oracle=f"""
    WITH lens AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(MIN(length(text)) AS BIGINT) AS min_len,
             CAST(MAX(length(text)) AS BIGINT) AS max_len,
             ROUND(CAST(SUM(CAST(length(text) AS BIGINT)) AS DOUBLE) / COUNT(*), 6)
               AS avg_len
      FROM documents GROUP BY lang),
    chars AS (
      SELECT lang, UNNEST(list_filter(regexp_split_to_array(text, ''), x -> x <> ''))
               AS ch
      FROM documents),
    cnt AS (SELECT lang, ch, COUNT(*) AS k FROM chars GROUP BY lang, ch),
    tot AS (SELECT lang, SUM(k) AS total FROM cnt GROUP BY lang),
    terms AS (
      SELECT c.lang,
             CAST(ROUND((CAST(k AS DOUBLE) / t.total)
                        * ln(CAST(k AS DOUBLE) / t.total) / {_LN2!r}, 12)
                  AS DECIMAL(18,12)) AS term
      FROM cnt c JOIN tot t ON c.lang = t.lang),
    ent AS (SELECT lang, ROUND(CAST(-SUM(term) AS DOUBLE), 6) AS entropy
            FROM terms GROUP BY lang)
    SELECT l.lang, l.n_docs, l.min_len, l.max_len, l.avg_len, e.entropy
    FROM lens l JOIN ent e ON l.lang = e.lang ORDER BY l.lang
    """,
)
def q290_string_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ln = F.length("text").cast("bigint")
    lens = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.min(ln).alias("min_len"),
        F.max(ln).alias("max_len"),
        F.round(F.sum(ln).cast("double") / F.count(F.lit(1)), 6).alias("avg_len"),
    )
    chars = docs.select(
        "lang", F.explode(F.filter(F.split("text", ""), lambda x: x != "")).alias("ch")
    )
    cnt = chars.groupBy("lang", "ch").agg(F.count(F.lit(1)).alias("k"))
    tot = cnt.groupBy("lang").agg(F.sum("k").alias("total"))
    p = F.col("k").cast("double") / F.col("total")
    terms = cnt.join(F.broadcast(tot), "lang").select(
        "lang",
        F.round(p * F.log(p) / F.lit(_LN2), 12).cast("decimal(18,12)").alias("term"),
    )
    ent = terms.groupBy("lang").agg(
        F.round((-F.sum("term")).cast("double"), 6).alias("entropy")
    )
    return lens.join(F.broadcast(ent), "lang").orderBy("lang")


# ---------------------------------------------------------------------------
# q291 — ES `weighted_avg` aggregation: l_extendedprice weighted by
# l_quantity per l_linestatus. Both folds are exact DECIMAL sums; the
# ratio is one double divide on both engines.
#
# Shape (100 TB): one map-combinable shuffle, 2 output rows.
# ---------------------------------------------------------------------------
@register(
    "q291_weighted_avg",
    oracle="""
    SELECT l_linestatus,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,4))
                          * CAST(l_quantity AS DECIMAL(38,2))) AS DOUBLE)
                 / CAST(SUM(CAST(l_quantity AS DECIMAL(38,2))) AS DOUBLE),
                 6) AS wavg_price,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus
    """,
)
def q291_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(38,4)")
    qty = F.col("l_quantity").cast("decimal(38,2)")
    return (
        li.groupBy("l_linestatus")
        .agg(
            F.round(
                F.sum(price * qty).cast("double") / F.sum(qty).cast("double"), 6
            ).alias("wavg_price"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
        .orderBy("l_linestatus")
    )


# ---------------------------------------------------------------------------
# q292 — ES `multi_terms` aggregation: buckets keyed by a COMPOSITE of
# terms fields (returnflag, linestatus, linenumber), ordered by doc
# count desc with the ES composite-key tiebreak, top 10 buckets with a
# sum sub-agg.
#
# Shape (100 TB): one shuffle keyed by the composite; top-10 via a
# TakeOrdered on the already-aggregated bucket rows (cardinality =
# |flag| x |status| x |linenumber| <= 42 — driver-safe at any SF).
# ---------------------------------------------------------------------------
@register(
    "q292_multi_terms",
    oracle="""
    SELECT l_returnflag, l_linestatus, CAST(l_linenumber AS BIGINT) AS l_linenumber,
           CAST(COUNT(*) AS BIGINT) AS doc_count,
           ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(38,2))) AS DOUBLE), 2) AS sum_qty
    FROM lineitem GROUP BY l_returnflag, l_linestatus, l_linenumber
    ORDER BY doc_count DESC, l_returnflag, l_linestatus, l_linenumber LIMIT 10
    """,
)
def q292_multi_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy(
            "l_returnflag",
            "l_linestatus",
            F.col("l_linenumber").cast("bigint").alias("l_linenumber"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("doc_count"),
            F.round(
                F.sum(F.col("l_quantity").cast("decimal(38,2)")).cast("double"), 2
            ).alias("sum_qty"),
        )
        .orderBy(F.desc("doc_count"), "l_returnflag", "l_linestatus", "l_linenumber")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# q293 — ES `geotile_grid` aggregation at zoom 3 over the synthetic
# customer point set (the q235 spatial fixture: deterministic lat/lon
# lattice derived from c_custkey on the [0, 30)^2 plane — see
# plans/spatial.py). Tile x/y are computed in PURE INTEGER arithmetic
# (scaled-coordinate * 2^z // plane), so bucket boundaries can never
# drift between engines; key is the ES "z/x/y" string.
#
# ES's geotile uses Web-Mercator y; on the synthetic plane the analog
# is the equirectangular power-of-two tiling — same bucket semantics
# (power-of-two subdivision, z/x/y keys), no trans-engine tan/ln.
#
# Shape (100 TB): scan-local key derivation + one tiny-cardinality
# map-combinable shuffle (<= 64 tiles at z=3).
# ---------------------------------------------------------------------------
_GT_Z = 3
_GT_CELLS = 1 << _GT_Z  # 8 tiles per axis over the 3000-unit plane


@register(
    "q293_geotile_grid",
    oracle=f"""
    WITH pts AS (
      SELECT ((c_custkey * 104729) % 3000) * {_GT_CELLS} // 3000 AS tx,
             ((c_custkey * 7919) % 3000) * {_GT_CELLS} // 3000 AS ty
      FROM customer)
    SELECT CAST('{_GT_Z}' AS VARCHAR) || '/' || CAST(tx AS VARCHAR) || '/'
             || CAST(ty AS VARCHAR) AS tile,
           CAST(COUNT(*) AS BIGINT) AS doc_count
    FROM pts GROUP BY tx, ty
    ORDER BY doc_count DESC, tile LIMIT 20
    """,
)
def q293_geotile_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    tx = F.floor(((k * 104729) % 3000) * _GT_CELLS / 3000).cast("bigint")
    ty = F.floor(((k * 7919) % 3000) * _GT_CELLS / 3000).cast("bigint")
    pts = cust.select(tx.alias("tx"), ty.alias("ty"))
    return (
        pts.groupBy("tx", "ty")
        .agg(F.count(F.lit(1)).cast("bigint").alias("doc_count"))
        .select(
            F.concat_ws("/", F.lit(str(_GT_Z)), F.col("tx"), F.col("ty")).alias("tile"),
            "doc_count",
        )
        .orderBy(F.desc("doc_count"), "tile")
        .limit(20)
    )


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
# q295 — ES `boxplot` aggregation: exact q1/q2/q3 per l_returnflag over
# l_quantity with type-7 (numpy/ES-linear) interpolation, computed with
# INTEGER position math so both engines interpolate the identical pair:
# idx8 = (n-1)*k  (k = 1,2,3 quartiles, scaled by 4), lo = idx8 DIV 4,
# frac = (idx8 MOD 4)/4 in {0, .25, .5, .75} — exact doubles.
#
# Shape (100 TB): the rank is a per-group sort (the exact-quantile
# price — the approximate 100-TB interactive path is q121's KLL
# sketch); the two value probes are broadcast joins of a <=15-row
# position frame against the ranked scan, so no second big shuffle.
# ---------------------------------------------------------------------------
@register(
    "q295_boxplot",
    oracle="""
    WITH ranked AS (
      SELECT l_returnflag, l_quantity,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY l_quantity) AS rn
      FROM lineitem),
    cnt AS (SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n
            FROM lineitem GROUP BY l_returnflag),
    pos AS (
      SELECT l_returnflag, n, quartile,
             (n - 1) * quartile // 4 AS lo,
             (n - 1) * quartile % 4 AS fnum
      FROM cnt, (SELECT UNNEST([1, 2, 3]) AS quartile)),
    probe AS (
      SELECT p.l_returnflag, p.n, CAST(p.quartile AS BIGINT) AS quartile,
             rlo.l_quantity AS qlo,
             COALESCE(rhi.l_quantity, rlo.l_quantity) AS qhi,
             p.fnum
      FROM pos p
      JOIN ranked rlo ON rlo.l_returnflag = p.l_returnflag AND rlo.rn = p.lo + 1
      LEFT JOIN ranked rhi ON rhi.l_returnflag = p.l_returnflag AND rhi.rn = p.lo + 2)
    SELECT l_returnflag, n, quartile,
           ROUND(qlo + (qhi - qlo) * (CAST(fnum AS DOUBLE) / 4.0), 6) AS q_value
    FROM probe ORDER BY l_returnflag, quartile
    """,
)
def q295_boxplot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_returnflag", "l_quantity")
    w = Window.partitionBy("l_returnflag").orderBy("l_quantity")
    # row at rank lo+2 == the NEXT row of the same sorted partition, so it
    # comes from lead() in the SAME window pass instead of a second join
    # against a re-sorted copy of `ranked` (the rhi join re-ran the full
    # 3-partition sort: 2 global sorts -> 1, one join -> zero non-broadcast
    # joins; guide §2.4 "window functions partitioned the same way do not
    # need a second shuffle").
    ranked = li.select(
        "l_returnflag",
        F.col("l_quantity").alias("qlo"),
        F.row_number().over(w).alias("rn_lo"),
        F.lead("l_quantity").over(w).alias("qnext"),
    )
    cnt = li.groupBy("l_returnflag").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    pos = cnt.select(
        "l_returnflag",
        "n",
        F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("quartile"),
    ).select(
        F.col("l_returnflag").alias("flag_pos"),
        "n",
        "quartile",
        F.expr("(n - 1) * quartile DIV 4").alias("lo"),
        F.expr("(n - 1) * quartile % 4").alias("fnum"),
    )
    probe = ranked.join(
        F.broadcast(pos),
        (F.col("l_returnflag") == F.col("flag_pos")) & (F.col("rn_lo") == F.col("lo") + 1),
    ).select(
        "l_returnflag",
        "n",
        F.col("quartile").cast("bigint").alias("quartile"),
        "qlo",
        F.coalesce(F.col("qnext"), F.col("qlo")).alias("qhi"),
        "fnum",
    )
    qv = F.col("qlo") + (F.col("qhi") - F.col("qlo")) * (
        F.col("fnum").cast("double") / F.lit(4.0)
    )
    return probe.select(
        "l_returnflag", "n", "quartile", F.round(qv, 6).alias("q_value")
    ).orderBy("l_returnflag", "quartile")


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
# q297 — ES `regexp` term query: documents whose token set contains a
# match of the regex s[a-z]*[knt] (ES regexp queries are implicitly
# anchored — the TERM must match in full, hence ^...$ on both engines;
# tokens are [a-z0-9]+ so Java-regex and RE2 class semantics coincide).
# Surfaces the q283 wildcard shape for the full-regex DSL entry point.
#
# Shape (100 TB): scan-local higher-order filter, no shuffle before the
# output sort; with the q68 postings index this becomes a term-
# dictionary walk exactly like ES's automaton intersection.
# ---------------------------------------------------------------------------
_REGEXP_Q = "^s[a-z]*[knt]$"


@register(
    "q297_regexp_query",
    oracle=f"""
    WITH d AS (SELECT doc_id, list_sort(list_filter(list_distinct({TOKS_SQL}),
                 x -> regexp_matches(x, '{_REGEXP_Q}'))) AS hits
               FROM documents)
    SELECT doc_id,
           CAST(len(hits) AS BIGINT) AS n_terms,
           array_to_string(hits, ',') AS matched_terms
    FROM d WHERE len(hits) > 0
    ORDER BY doc_id
    """,
)
def q297_regexp_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    hits = F.array_sort(
        F.filter(F.array_distinct(tokens("text")), lambda x: x.rlike(_REGEXP_Q))
    )
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(hits).cast("bigint").alias("n_terms"),
        F.concat_ws(",", hits).alias("matched_terms"),
    )
    return d.filter(F.col("n_terms") > 0).orderBy("doc_id")


# ---------------------------------------------------------------------------
# q298 — ES `match_bool_prefix` query: "merge st" analyzes to the full
# term `merge` (must match as a term) plus the LAST token treated as a
# prefix `st*` (type-ahead semantics). Output: matching docs with the
# sorted distinct prefix-completed terms.
#
# Shape (100 TB): scan-local predicates (array_contains + a
# higher-order startswith filter); the indexed variant walks the q68
# term dictionary for the prefix expansion like ES does.
# ---------------------------------------------------------------------------
_MBP_FULL = "merge"
_MBP_PREFIX = "st"


@register(
    "q298_match_bool_prefix",
    oracle=f"""
    WITH d AS (
      SELECT doc_id,
             list_distinct({TOKS_SQL}) AS ts
      FROM documents),
    m AS (
      SELECT doc_id,
             list_sort(list_filter(ts, x -> x LIKE '{_MBP_PREFIX}%')) AS pref_hits
      FROM d WHERE list_contains(ts, '{_MBP_FULL}'))
    SELECT doc_id,
           CAST(len(pref_hits) AS BIGINT) AS n_prefix_terms,
           array_to_string(pref_hits, ',') AS prefix_terms
    FROM m WHERE len(pref_hits) > 0
    ORDER BY doc_id
    """,
)
def q298_match_bool_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ts = F.array_distinct(tokens("text"))
    pref = F.array_sort(F.filter(ts, lambda x: x.startswith(_MBP_PREFIX)))
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        ts.alias("ts"),
        F.size(pref).cast("bigint").alias("n_prefix_terms"),
        F.concat_ws(",", pref).alias("prefix_terms"),
    )
    return (
        d.filter(F.array_contains("ts", _MBP_FULL) & (F.col("n_prefix_terms") > 0))
        .drop("ts")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# q299 — ES `span_near` query (in_order=false, slop=3) for two term
# spans `hash` and `join`: a doc matches when some occurrence pair sits
# within 3 intervening positions in EITHER order (the ordered variant
# is q22/q250's phrase machinery; span_first is q278). Surfaces the
# best (minimum) position gap and the number of qualifying pairs.
#
# Positions come from an indexed array transform (Spark 0-based,
# DuckDB 1-based — the offset cancels in position differences).
#
# Shape (100 TB): scan-local array math per row — the pair set is
# per-doc occurrence counts (bounded by doc length), never a join.
# ---------------------------------------------------------------------------
_SPAN_A = "hash"
_SPAN_B = "join"
_SPAN_SLOP = 3


@register(
    "q299_span_near",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             {TOKS_SQL} AS tk
      FROM documents),
    pos AS (
      SELECT doc_id,
             list_filter(list_transform(tk, (x, i) ->
               CASE WHEN x = '{_SPAN_A}' THEN i ELSE -1 END), p -> p >= 0) AS pa,
             list_filter(list_transform(tk, (x, i) ->
               CASE WHEN x = '{_SPAN_B}' THEN i ELSE -1 END), p -> p >= 0) AS pb
      FROM t),
    pairs AS (
      SELECT doc_id,
             flatten(list_transform(pa, x ->
               list_transform(pb, y -> abs(x - y) - 1))) AS gaps
      FROM pos WHERE len(pa) > 0 AND len(pb) > 0)
    SELECT doc_id,
           CAST(list_min(gaps) AS BIGINT) AS best_gap,
           CAST(len(list_filter(gaps, g -> g <= {_SPAN_SLOP})) AS BIGINT)
             AS n_pairs_within
    FROM pairs WHERE list_min(gaps) <= {_SPAN_SLOP}
    ORDER BY doc_id
    """,
)
def q299_span_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("tk")
    )
    def _positions(term: str):
        return F.expr(
            f"filter(transform(tk, (x, i) -> IF(x = '{term}', i, -1)), p -> p >= 0)"
        )

    from ..functions.plan import with_once

    # with_once barriers (functions/plan.py, the q318 lesson): single
    # evaluation for the position arrays and the gap list; otherwise
    # pb inlines inside the per-x lambda and gaps re-evaluates in the
    # best_gap filter.
    pos = with_once(
        docs,
        "ps",
        F.struct(_positions(_SPAN_A).alias("pa"), _positions(_SPAN_B).alias("pb")),
    ).filter((F.size("ps.pa") > 0) & (F.size("ps.pb") > 0))
    gaps = F.expr(
        "flatten(transform(ps.pa, x -> transform(ps.pb, y -> abs(x - y) - 1)))"
    )
    g = with_once(pos, "gaps", gaps)
    return (
        g.select(
            "doc_id",
            F.array_min("gaps").cast("bigint").alias("best_gap"),
            F.size(F.filter(F.col("gaps"), lambda d: d <= F.lit(_SPAN_SLOP)))
            .cast("bigint")
            .alias("n_pairs_within"),
        )
        .filter(F.col("best_gap") <= _SPAN_SLOP)
        .orderBy("doc_id")
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
# q301 — ES `categorize_text` aggregation (log-pattern bucketing):
# collapse every digit-run token to `#`, take the first 5 tokens as the
# category signature, count docs per category. ES's categorizer is a
# token-prefix drain tree; the fixed-prefix signature is the
# deterministic engine analog of the same first-tokens heuristic.
#
# Shape (100 TB): scan-local signature derivation + one map-combinable
# count shuffle on the (low-cardinality) signature.
# ---------------------------------------------------------------------------
@register(
    "q301_categorize_text",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             array_to_string(list_transform(
               {TOKS_SQL}[1:5],
               x -> CASE WHEN regexp_matches(x, '^[0-9]+$') THEN '#' ELSE x END),
               ' ') AS category
      FROM documents)
    SELECT category, CAST(COUNT(*) AS BIGINT) AS doc_count
    FROM t GROUP BY category
    ORDER BY doc_count DESC, category LIMIT 20
    """,
)
def q301_categorize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig = F.concat_ws(
        " ",
        F.transform(
            F.slice(tokens("text"), 1, 5),
            lambda x: F.when(x.rlike("^[0-9]+$"), F.lit("#")).otherwise(x),
        ),
    )
    docs = load_table(spark, sf_dir, "documents").select(sig.alias("category"))
    return (
        docs.groupBy("category")
        .agg(F.count(F.lit(1)).cast("bigint").alias("doc_count"))
        .orderBy(F.desc("doc_count"), "category")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q302 — LLM inference/training batch packing audit: per language,
# sort docs by token length, pack into fixed-size batches of 32, and
# report each batch's padding overhead (batch cost is
# batch_rows * max_len; waste is cost minus real tokens — the quantity
# length-bucketed batching minimizes vs random batching).
#
# Shape (100 TB): one window rank per lang (the sort a real packer
# needs anyway) and one batch-key aggregate; batch ids are integer
# row-number DIV, so boundaries are engine-exact.
# ---------------------------------------------------------------------------
_BATCH_ROWS = 32


@register(
    "q302_length_batching",
    oracle=f"""
    WITH t AS (
      SELECT lang, doc_id,
             CAST(len({TOKS_SQL}) AS BIGINT) AS n_tok
      FROM documents),
    r AS (
      SELECT lang, n_tok,
             (ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_tok, doc_id) - 1)
               // {_BATCH_ROWS} AS batch
      FROM t)
    SELECT lang, CAST(batch AS BIGINT) AS batch,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MAX(n_tok) AS BIGINT) AS max_len,
           CAST(SUM(n_tok) AS BIGINT) AS real_tokens,
           CAST(COUNT(*) * MAX(n_tok) - SUM(n_tok) AS BIGINT) AS pad_waste,
           ROUND(CAST(SUM(n_tok) AS DOUBLE) / (COUNT(*) * MAX(n_tok)), 6)
             AS utilization
    FROM r GROUP BY lang, batch ORDER BY lang, batch
    """,
)
def q302_length_batching(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_table(spark, sf_dir, "documents").select(
        "lang", "doc_id", F.size(tokens("text")).cast("bigint").alias("n_tok")
    )
    w = Window.partitionBy("lang").orderBy("n_tok", "doc_id")
    # integer DIV (not float-divide-then-cast) — the file's integer-
    # boundary discipline; matches the oracle's //
    r = t.select(
        "lang", "n_tok", (F.row_number().over(w) - 1).alias("rn0")
    ).select(
        "lang",
        "n_tok",
        F.expr(f"CAST(rn0 DIV {_BATCH_ROWS} AS BIGINT)").alias("batch"),
    )
    g = r.groupBy("lang", "batch").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.max("n_tok").alias("max_len"),
        F.sum("n_tok").alias("real_tokens"),
    )
    return g.select(
        "lang",
        "batch",
        "n_docs",
        "max_len",
        "real_tokens",
        (F.col("n_docs") * F.col("max_len") - F.col("real_tokens"))
        .cast("bigint")
        .alias("pad_waste"),
        F.round(
            F.col("real_tokens").cast("double") / (F.col("n_docs") * F.col("max_len")),
            6,
        ).alias("utilization"),
    ).orderBy("lang", "batch")


# ---------------------------------------------------------------------------
# q303 — tokenizer fertility audit per language: subword(BPE-ish,
# the q70 tokenizer) tokens per whitespace word and characters per
# subword token — the standard multilingual-tokenizer health metrics
# (high fertility = the tokenizer fragments that language).
#
# Shape (100 TB): scan-local token counting + one tiny shuffle.
# ---------------------------------------------------------------------------
@register(
    "q303_tokenizer_fertility",
    oracle=f"""
    WITH t AS (
      SELECT lang,
             CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]'))
               AS BIGINT) AS n_bpe,
             CAST(len({TOKS_SQL}) AS BIGINT) AS n_ws,
             CAST(length(text) AS BIGINT) AS n_chars
      FROM documents)
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_bpe) AS BIGINT) AS bpe_tokens,
           CAST(SUM(n_ws) AS BIGINT) AS ws_words,
           ROUND(CAST(SUM(n_bpe) AS DOUBLE) / SUM(n_ws), 6) AS fertility,
           ROUND(CAST(SUM(n_chars) AS DOUBLE) / SUM(n_bpe), 6) AS chars_per_token
    FROM t GROUP BY lang ORDER BY lang
    """,
)
def q303_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_table(spark, sf_dir, "documents").select(
        "lang",
        F.size(F.expr(r"regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
        .cast("bigint")
        .alias("n_bpe"),
        F.size(tokens("text")).cast("bigint").alias("n_ws"),
        F.length("text").cast("bigint").alias("n_chars"),
    )
    return (
        t.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_bpe").alias("bpe_tokens"),
            F.sum("n_ws").alias("ws_words"),
            F.round(F.sum("n_bpe").cast("double") / F.sum("n_ws"), 6).alias("fertility"),
            F.round(F.sum("n_chars").cast("double") / F.sum("n_bpe"), 6).alias(
                "chars_per_token"
            ),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# q304 — quality-ordered training curriculum: per language, order docs
# by a deterministic quality proxy (type-token ratio, the q42 family),
# then split the token budget into 4 curriculum stages by CUMULATIVE
# token count — stage boundaries in pure integer math
# ((cum-1)*4 DIV total), so every engine draws them identically.
# The standard "clean data late in training" curriculum assignment.
#
# Shape (100 TB): one window per lang over doc-level rows (the order a
# curriculum writer must produce anyway) + a broadcast of the per-lang
# token totals; stage aggregation is map-combinable.
# ---------------------------------------------------------------------------
_CURR_STAGES = 4


@register(
    "q304_quality_curriculum",
    oracle=f"""
    WITH t AS (
      SELECT lang, doc_id,
             CAST(len({TOKS_SQL}) AS BIGINT) AS n_tok,
             ROUND(CAST(len(list_distinct({TOKS_SQL}))
               AS DOUBLE)
               / len({TOKS_SQL}), 4) AS ttr
      FROM documents),
    c AS (
      SELECT lang, n_tok, ttr,
             SUM(n_tok) OVER (PARTITION BY lang ORDER BY ttr DESC, doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(n_tok) OVER (PARTITION BY lang) AS total
      FROM t)
    SELECT lang, CAST((cum - 1) * {_CURR_STAGES} // total AS BIGINT) AS stage,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS tokens,
           ROUND(CAST(SUM(CAST(ttr AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 6)
             AS avg_ttr
    FROM c GROUP BY lang, stage ORDER BY lang, stage
    """,
)
def q304_quality_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    tk = tokens("text")
    t = load_table(spark, sf_dir, "documents").select(
        "lang",
        "doc_id",
        F.size(tk).cast("bigint").alias("n_tok"),
        F.round(
            F.size(F.array_distinct(tk)).cast("double") / F.size(tk), 4
        ).alias("ttr"),
    )
    wcum = (
        Window.partitionBy("lang")
        .orderBy(F.desc("ttr"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wtot = Window.partitionBy("lang")
    c = t.select(
        "lang",
        "n_tok",
        "ttr",
        F.sum("n_tok").over(wcum).alias("cum"),
        F.sum("n_tok").over(wtot).alias("total"),
    )
    stage = F.expr(f"(cum - 1) * {_CURR_STAGES} DIV total").cast("bigint")
    return (
        c.groupBy("lang", stage.alias("stage"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("tokens"),
            F.round(
                F.sum(F.col("ttr").cast("decimal(18,4)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_ttr"),
        )
        .orderBy("lang", "stage")
    )


# ---------------------------------------------------------------------------
# q305 — ES `auto_date_histogram` aggregation: pick the smallest
# interval from the rounding ladder (1, 7, 30, 90, 365 days) that
# yields at most the target bucket count (20) over the data's actual
# span, then histogram on it. Bucket ids are epoch-day DIV interval —
# integer math; bucket keys surface as the bucket-start date string.
#
# Shape (100 TB): the span statistic is one tiny all-reduce (2 values)
# broadcast back onto the scan; the histogram is one map-combinable
# shuffle with <= 20 buckets.
# ---------------------------------------------------------------------------
_ADH_TARGET = 20
_ADH_LADDER = (1, 7, 30, 90, 365)


@register(
    "q305_auto_date_histogram",
    oracle=f"""
    WITH days AS (
      SELECT date_diff('day', DATE '1970-01-01', CAST(date_trunc('day', ts) AS DATE))
               AS ed
      FROM events),
    span AS (
      SELECT MIN(ed) AS lo, MAX(ed) AS hi FROM days),
    choice AS (
      SELECT lo, hi,
             (SELECT MIN(iv) FROM (SELECT UNNEST({list(_ADH_LADDER)!r}) AS iv)
              WHERE (hi - lo) // iv + 1 <= {_ADH_TARGET}) AS interval_days
      FROM span)
    SELECT CAST(c.interval_days AS BIGINT) AS interval_days,
           strftime(DATE '1970-01-01'
                    + to_days(CAST((d.ed // c.interval_days) * c.interval_days
                                   AS INTEGER)),
                    '%Y-%m-%d') AS bucket_start,
           CAST(COUNT(*) AS BIGINT) AS doc_count
    FROM days d, choice c
    GROUP BY 1, 2 ORDER BY bucket_start
    """,
)
def q305_auto_date_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    days = ev.select(
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")).alias("ed")
    )
    span = days.agg(F.min("ed").alias("lo"), F.max("ed").alias("hi"))
    ladder = F.array(*[F.lit(i) for i in _ADH_LADDER])
    # (hi-lo) // iv + 1 <= T  ⟺  hi-lo < iv*T  for ints with iv>0 —
    # multiplication-only, so no divide-then-cast (integer discipline)
    choice = span.select(
        F.array_min(
            F.filter(ladder, lambda iv: (F.col("hi") - F.col("lo")) < iv * _ADH_TARGET)
        ).alias("interval_days")
    )
    j = days.crossJoin(F.broadcast(choice))
    bucket_ed = (F.floor(F.col("ed") / F.col("interval_days")) * F.col("interval_days")).cast("int")
    return (
        j.select(
            F.col("interval_days").cast("bigint").alias("interval_days"),
            F.date_format(
                F.date_add(F.lit("1970-01-01").cast("date"), bucket_ed), "yyyy-MM-dd"
            ).alias("bucket_start"),
        )
        .groupBy("interval_days", "bucket_start")
        .agg(F.count(F.lit(1)).cast("bigint").alias("doc_count"))
        .orderBy("bucket_start")
    )


# ---------------------------------------------------------------------------
# q306 — ES `geo_centroid` aggregation per nation over the synthetic
# customer point set (q235/q293 fixture). The centroid is computed from
# the INTEGER scaled coordinates (sum of 2-decimal lattice units, two
# exact divides at the end), so there is no floating accumulation to
# drift between engines.
#
# Shape (100 TB): scan-local coordinate derivation, one map-combinable
# shuffle keyed by nation (25 rows out).
# ---------------------------------------------------------------------------
@register(
    "q306_geo_centroid",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           ROUND(CAST(SUM((c.c_custkey * 7919) % 3000) AS DOUBLE) / 100.0
                 / COUNT(*), 6) AS centroid_lat,
           ROUND(CAST(SUM((c.c_custkey * 104729) % 3000) AS DOUBLE) / 100.0
                 / COUNT(*), 6) AS centroid_lon
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name ORDER BY nation
    """,
)
def q306_geo_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    k = F.col("c_custkey")
    j = cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    return (
        j.groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_points"),
            F.round(
                F.sum((k * 7919) % 3000).cast("double") / 100.0 / F.count(F.lit(1)), 6
            ).alias("centroid_lat"),
            F.round(
                F.sum((k * 104729) % 3000).cast("double") / 100.0 / F.count(F.lit(1)), 6
            ).alias("centroid_lon"),
        )
        .orderBy("nation")
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
# q310 — ES `geo_distance` sort: the 20 customers nearest to the plane
# center (15.00, 15.00) on the q235 synthetic lattice. Distances are
# EXACT squared lattice units (bigint — the lattice is integer
# hundredths of a degree), so the sort key never touches a float;
# the surfaced distance divides once at the end.
#
# Shape (100 TB): scan-local key derivation + TakeOrdered(20) — the
# per-partition top-k merge, no global sort materialization.
# ---------------------------------------------------------------------------
@register(
    "q310_geo_distance_sort",
    oracle="""
    WITH pts AS (
      SELECT c_custkey,
             (c_custkey * 7919) % 3000 AS ulat,
             (c_custkey * 104729) % 3000 AS ulon
      FROM customer)
    SELECT c_custkey,
           CAST((ulat - 1500) * (ulat - 1500)
                + (ulon - 1500) * (ulon - 1500) AS BIGINT) AS d2_units,
           ROUND(sqrt(CAST((ulat - 1500) * (ulat - 1500)
                + (ulon - 1500) * (ulon - 1500) AS DOUBLE)) / 100.0, 6)
             AS distance_deg
    FROM pts ORDER BY d2_units, c_custkey LIMIT 20
    """,
)
def q310_geo_distance_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    ulat = (k * 7919) % 3000
    ulon = (k * 104729) % 3000
    d2 = (ulat - 1500) * (ulat - 1500) + (ulon - 1500) * (ulon - 1500)
    return (
        cust.select(
            "c_custkey",
            d2.cast("bigint").alias("d2_units"),
            F.round(F.sqrt(d2.cast("double")) / 100.0, 6).alias("distance_deg"),
        )
        .orderBy("d2_units", "c_custkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q311 — ES `terms` lookup query: the term list is FETCHED FROM ANOTHER
# DOCUMENT (index/id/path) rather than inlined — here, the distinct
# token set of doc_id 42. Docs (other than the source) matching ANY
# looked-up term, with their overlap counts.
#
# Shape (100 TB): the lookup doc reduces to a 1-row array broadcast
# (exactly ES's coordinating-node term fetch); the match is then a
# scan-local array_intersect — no shuffle before the output sort.
# ---------------------------------------------------------------------------
_LOOKUP_DOC = 42


@register(
    "q311_terms_lookup",
    oracle=f"""
    WITH lu AS (
      SELECT list_distinct({TOKS_SQL}) AS terms
      FROM documents WHERE doc_id = {_LOOKUP_DOC}),
    d AS (
      SELECT doc_id,
             CAST(len(list_intersect(list_distinct({TOKS_SQL}),
               lu.terms)) AS BIGINT) AS n_overlap
      FROM documents, lu WHERE doc_id <> {_LOOKUP_DOC})
    SELECT doc_id, n_overlap FROM d WHERE n_overlap > 0 ORDER BY doc_id
    """,
)
def q311_terms_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    lu = docs.filter(F.col("doc_id") == _LOOKUP_DOC).select(
        distinct_tokens_sorted("text").alias("terms")
    )
    d = (
        docs.filter(F.col("doc_id") != _LOOKUP_DOC)
        .crossJoin(F.broadcast(lu))
        .select(
            "doc_id",
            F.size(F.array_intersect(distinct_tokens_sorted("text"), F.col("terms")))
            .cast("bigint")
            .alias("n_overlap"),
        )
    )
    return d.filter(F.col("n_overlap") > 0).orderBy("doc_id")


# ---------------------------------------------------------------------------
# q312 — ES `script_score` + `rank_feature` saturation: score each doc
# containing the term `spark` as tf * saturation(n_chars, pivot=200)
# where saturation(f, p) = f / (f + p) — the exact rank_feature
# saturation curve. PURE RATIONAL arithmetic (tf and n_chars are ints),
# so the score is engine-exact before the final round.
#
# Shape (100 TB): scan-local scoring + TakeOrdered(20).
# ---------------------------------------------------------------------------
_RF_PIVOT = 200


@register(
    "q312_script_score",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, n_chars,
             CAST(len(list_filter({TOKS_SQL}, x -> x = 'spark'))
               AS BIGINT) AS tf
      FROM documents)
    SELECT doc_id, tf, CAST(n_chars AS BIGINT) AS n_chars,
           ROUND(tf * (CAST(n_chars AS DOUBLE) / (n_chars + {_RF_PIVOT})), 6)
             AS score
    FROM t WHERE tf > 0 ORDER BY score DESC, doc_id LIMIT 20
    """,
)
def q312_script_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.size(F.filter(tokens("text"), lambda x: x == F.lit("spark")))
        .cast("bigint")
        .alias("tf"),
    )
    score = F.col("tf") * (
        F.col("n_chars").cast("double") / (F.col("n_chars") + _RF_PIVOT)
    )
    return (
        t.filter(F.col("tf") > 0)
        .select("doc_id", "tf", "n_chars", F.round(score, 6).alias("score"))
        .orderBy(F.desc("score"), "doc_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q313 — ES `pinned` query: curated ids surface first IN THE GIVEN
# ORDER, then organic results ranked by score (n_chars desc, doc_id
# tiebreak), pinned ids excluded from the organic section. Surfaced
# with an explicit rank so the contract is order-proof under the
# driver's order-insensitive compare.
#
# Shape (100 TB): the pin list is a literal broadcast; organic ranking
# is TakeOrdered(k) — never a global sort.
# ---------------------------------------------------------------------------
_PINNED = (11, 3, 7)
_PIN_ORGANIC = 10


@register(
    "q313_pinned_query",
    oracle=f"""
    WITH pins AS (
      SELECT * FROM (VALUES {", ".join(f"({r}, {d})" for r, d in enumerate(_PINNED))})
        AS v(rank, doc_id)),
    organic AS (
      SELECT CAST({len(_PINNED)} - 1 + ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id)
               AS BIGINT) AS rank,
             doc_id
      FROM documents WHERE doc_id NOT IN {_PINNED!r}
      ORDER BY n_chars DESC, doc_id LIMIT {_PIN_ORGANIC})
    SELECT CAST(rank AS BIGINT) AS rank, CAST(doc_id AS BIGINT) AS doc_id,
           rank < {len(_PINNED)} AS pinned
    FROM (SELECT rank, doc_id FROM pins UNION ALL SELECT rank, doc_id FROM organic)
    ORDER BY rank
    """,
)
def q313_pinned_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pins = spark.createDataFrame(
        [(r, d) for r, d in enumerate(_PINNED)], "rank long, doc_id long"
    )
    # NB: organic re-ranks the limited 10-row frame — window over 10 rows
    organic = (
        docs.filter(~F.col("doc_id").isin(*_PINNED))
        .orderBy(F.desc("n_chars"), "doc_id")
        .limit(_PIN_ORGANIC)
        .withColumn(
            "rank",
            F.lit(len(_PINNED) - 1)
            + F.row_number().over(Window.orderBy(F.desc("n_chars"), "doc_id")),
        )
        .select("rank", "doc_id")
    )
    out = pins.select("rank", "doc_id").unionAll(organic.select("rank", "doc_id"))
    return out.select(
        F.col("rank").cast("bigint").alias("rank"),
        F.col("doc_id").cast("bigint").alias("doc_id"),
        (F.col("rank") < len(_PINNED)).alias("pinned"),
    ).orderBy("rank")
