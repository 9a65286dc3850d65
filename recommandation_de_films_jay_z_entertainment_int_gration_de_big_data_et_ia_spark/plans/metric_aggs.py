"""Elasticsearch metric aggregations: extended_stats, percentile_ranks,
string_stats, weighted_avg, boxplot, matrix_stats, t_test, top_hits,
scripted_metric and median_absolute_deviation, each with exact-DECIMAL
sums so Spark and the DuckDB oracle agree bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.relational import scripted_metric, top_hits
from ..sources.readers import load_table
from .catalog import register


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


# natural log of 2 as a shared literal so both engines divide by the
# identical double (log2 via ln avoids engine-specific log2 builtins)
_LN2 = 0.6931471805599453


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
# q320 — ES `matrix_stats` aggregation: pairwise covariance and Pearson
# correlation across three numeric fields (quantity, extendedprice,
# discount) per l_returnflag bucket.
#
# Determinism: all sums / sums-of-squares / cross-sums are exact DECIMAL
# folds (inputs have <= 3 fraction digits, products <= 6 — DECIMAL(38,6)
# holds the fold exactly at any SF); ONE cast to double per statistic
# and the identical expression tree on both engines:
#   cov = sxy/n - (sx/n)(sy/n);  corr = cov / sqrt(varx * vary).
#
# Shape (100 TB): one map-side-combinable groupBy carrying 10 decimal
# accumulators — a single shuffle of 3 rows per partition, then a
# row-local 3-pair unpivot. The canonical scan-bound metric agg.
# ---------------------------------------------------------------------------
_MS_FIELDS = ("l_quantity", "l_extendedprice", "l_discount")


def _ms_dec(f: str) -> str:
    return f"CAST({f} AS DECIMAL(18,3))"


@register(
    "q320_matrix_stats",
    oracle=f"""
    WITH s AS (
      SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
             SUM({_ms_dec("l_quantity")}) AS s0,
             SUM({_ms_dec("l_extendedprice")}) AS s1,
             SUM({_ms_dec("l_discount")}) AS s2,
             SUM({_ms_dec("l_quantity")} * {_ms_dec("l_quantity")}) AS s00,
             SUM({_ms_dec("l_extendedprice")} * {_ms_dec("l_extendedprice")}) AS s11,
             SUM({_ms_dec("l_discount")} * {_ms_dec("l_discount")}) AS s22,
             SUM({_ms_dec("l_quantity")} * {_ms_dec("l_extendedprice")}) AS s01,
             SUM({_ms_dec("l_quantity")} * {_ms_dec("l_discount")}) AS s02,
             SUM({_ms_dec("l_extendedprice")} * {_ms_dec("l_discount")}) AS s12
      FROM lineitem GROUP BY l_returnflag),
    pairs AS (
      SELECT l_returnflag, n, fx, fy, sx, sy, sxx, syy, sxy FROM (
        SELECT l_returnflag, n,
          '{_MS_FIELDS[0]}' AS fx, '{_MS_FIELDS[1]}' AS fy,
          s0 AS sx, s1 AS sy, s00 AS sxx, s11 AS syy, s01 AS sxy FROM s
        UNION ALL SELECT l_returnflag, n,
          '{_MS_FIELDS[0]}', '{_MS_FIELDS[2]}', s0, s2, s00, s22, s02 FROM s
        UNION ALL SELECT l_returnflag, n,
          '{_MS_FIELDS[1]}', '{_MS_FIELDS[2]}', s1, s2, s11, s22, s12 FROM s))
    SELECT l_returnflag, fx, fy, n,
           ROUND(CAST(sxy AS DOUBLE) / n
                 - (CAST(sx AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n), 6)
             AS covariance,
           ROUND((CAST(sxy AS DOUBLE) / n
                  - (CAST(sx AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n))
                 / sqrt((CAST(sxx AS DOUBLE) / n
                         - (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n))
                        * (CAST(syy AS DOUBLE) / n
                           - (CAST(sy AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n))),
                 6) AS correlation
    FROM pairs ORDER BY l_returnflag, fx, fy
    """,
)
def q320_matrix_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    d = {f: F.col(f).cast("decimal(18,3)") for f in _MS_FIELDS}
    q, p, disc = (d[f] for f in _MS_FIELDS)
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(q).alias("s0"), F.sum(p).alias("s1"), F.sum(disc).alias("s2"),
        F.sum(q * q).alias("s00"), F.sum(p * p).alias("s11"),
        F.sum(disc * disc).alias("s22"),
        F.sum(q * p).alias("s01"), F.sum(q * disc).alias("s02"),
        F.sum(p * disc).alias("s12"),
    )
    # Unpivot the 3 field pairs ROW-LOCALLY (explode over a struct
    # array) — a 3-branch union would re-execute the aggregate per
    # branch (3 full scans + shuffles at 100 TB); this is one.
    pair_specs = [
        (_MS_FIELDS[0], _MS_FIELDS[1], "s0", "s1", "s00", "s11", "s01"),
        (_MS_FIELDS[0], _MS_FIELDS[2], "s0", "s2", "s00", "s22", "s02"),
        (_MS_FIELDS[1], _MS_FIELDS[2], "s1", "s2", "s11", "s22", "s12"),
    ]
    pair_structs = F.array(
        *[
            F.struct(
                F.lit(fx).alias("fx"), F.lit(fy).alias("fy"),
                F.col(sx).alias("sx"), F.col(sy).alias("sy"),
                F.col(sxx).alias("sxx"), F.col(syy).alias("syy"),
                F.col(sxy).alias("sxy"),
            )
            for fx, fy, sx, sy, sxx, syy, sxy in pair_specs
        ]
    )
    pairs = s.select(
        "l_returnflag", "n", F.explode(pair_structs).alias("p")
    ).select("l_returnflag", "n", "p.*")
    n = F.col("n")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    cov = sxy / n - (sx / n) * (sy / n)
    varx = sxx / n - (sx / n) * (sx / n)
    vary = syy / n - (sy / n) * (sy / n)
    return pairs.select(
        "l_returnflag", "fx", "fy", "n",
        F.round(cov, 6).alias("covariance"),
        F.round(cov / F.sqrt(varx * vary), 6).alias("correlation"),
    ).orderBy("l_returnflag", "fx", "fy")


# ---------------------------------------------------------------------------
# q322 — ES `t_test` aggregation (heteroscedastic / Welch form): the
# two-sample t statistic between open ('O') and fulfilled ('F') orders
# on o_totalprice, per o_orderpriority bucket.
#   t = (m1 - m2) / sqrt(v1/n1 + v2/n2),  v = (ss - s*s/n) / (n - 1)
#
# Determinism: per-group sums and sums-of-squares are exact DECIMAL
# folds (price has 2 fraction digits, its square 4); ONE cast to double
# per accumulator and the identical expression tree on both engines.
#
# Shape (100 TB): a single map-side-combinable groupBy with six
# conditional accumulators — one shuffle of |priorities| rows.
# ---------------------------------------------------------------------------
@register(
    "q322_t_test",
    oracle="""
    WITH s AS (
      SELECT o_orderpriority,
             CAST(COUNT(*) FILTER (o_orderstatus = 'O') AS BIGINT) AS n1,
             CAST(COUNT(*) FILTER (o_orderstatus = 'F') AS BIGINT) AS n2,
             SUM(CAST(o_totalprice AS DECIMAL(38,4)))
               FILTER (o_orderstatus = 'O') AS s1,
             SUM(CAST(o_totalprice AS DECIMAL(38,4)))
               FILTER (o_orderstatus = 'F') AS s2,
             SUM(CAST(o_totalprice AS DECIMAL(38,4))
                 * CAST(o_totalprice AS DECIMAL(38,4)))
               FILTER (o_orderstatus = 'O') AS ss1,
             SUM(CAST(o_totalprice AS DECIMAL(38,4))
                 * CAST(o_totalprice AS DECIMAL(38,4)))
               FILTER (o_orderstatus = 'F') AS ss2
      FROM orders GROUP BY o_orderpriority)
    SELECT o_orderpriority, n1, n2,
           ROUND((CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2)
                 / sqrt(((CAST(ss1 AS DOUBLE)
                          - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n1)
                         / (n1 - 1)) / n1
                        + ((CAST(ss2 AS DOUBLE)
                            - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / n2)
                           / (n2 - 1)) / n2),
                 6) AS t_stat
    FROM s WHERE n1 >= 2 AND n2 >= 2
    ORDER BY o_orderpriority
    """,
)
def q322_t_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    dec = F.col("o_totalprice").cast("decimal(38,4)")

    def flt(status: str, expr: F.Column) -> F.Column:
        return F.sum(F.when(F.col("o_orderstatus") == status, expr))

    s = o.groupBy("o_orderpriority").agg(
        F.count(F.when(F.col("o_orderstatus") == "O", 1)).cast("bigint").alias("n1"),
        F.count(F.when(F.col("o_orderstatus") == "F", 1)).cast("bigint").alias("n2"),
        flt("O", dec).alias("s1"),
        flt("F", dec).alias("s2"),
        flt("O", dec * dec).alias("ss1"),
        flt("F", dec * dec).alias("ss2"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    s1, s2 = F.col("s1").cast("double"), F.col("s2").cast("double")
    ss1, ss2 = F.col("ss1").cast("double"), F.col("ss2").cast("double")
    v1 = (ss1 - s1 * s1 / n1) / (n1 - 1)
    v2 = (ss2 - s2 * s2 / n2) / (n2 - 1)
    t = (s1 / n1 - s2 / n2) / F.sqrt(v1 / n1 + v2 / n2)
    return (
        s.filter((n1 >= 2) & (n2 >= 2))
        .select("o_orderpriority", "n1", "n2", F.round(t, 6).alias("t_stat"))
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# q346 — ES `top_hits` aggregation: the canonical group-by-with-
# examples. Buckets = documents.source (terms agg); per bucket the
# bucket's doc_count plus its top-3 full documents by (n_chars DESC,
# doc_id) — doc fields surfaced verbatim, text as md5 fingerprint.
#
# Shape (100 TB): WindowGroupLimit prunes each source partition's sort
# to 3 rows before the exchange; the per-source counts aggregate is
# |sources| rows, broadcast back onto the 3·|sources| hits. See
# operators/relational.py:top_hits for why this beats a COUNT-over-
# partition window (that would defeat the group-limit pushdown).
# ---------------------------------------------------------------------------
_TH_K = 3


@register(
    "q346_top_hits",
    oracle=f"""
    WITH c AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS doc_count
      FROM documents GROUP BY source),
    r AS (
      SELECT source, doc_id, n_chars, lang, md5(text) AS text_md5,
             ROW_NUMBER() OVER (PARTITION BY source
               ORDER BY n_chars DESC, doc_id) AS hit_rank
      FROM documents)
    SELECT r.source, c.doc_count, CAST(r.hit_rank AS INT) AS hit_rank,
           r.doc_id, r.n_chars, r.lang, r.text_md5
    FROM r JOIN c ON r.source = c.source
    WHERE r.hit_rank <= {_TH_K}
    ORDER BY r.source, r.hit_rank
    """,
)
def q346_top_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", "n_chars", "lang", F.md5("text").alias("text_md5")
    )
    out = top_hits(
        docs,
        bucket_by=["source"],
        order=[F.desc("n_chars"), F.asc("doc_id")],
        k=_TH_K,
        hit_cols=["doc_id", "n_chars", "lang", "text_md5"],
    )
    return out.select(
        "source", "doc_count", "hit_rank", "doc_id", "n_chars", "lang", "text_md5"
    ).orderBy("source", "hit_rank")


# ---------------------------------------------------------------------------
# q347 — ES `scripted_metric` aggregation analog: an order-dependent
# per-bucket fold no built-in agg expresses — here an exponentially
# decayed sum of document lengths in doc_id order (state' = state/2 +
# n_chars), the kind of "recency-weighted total" ES users write as a
# map/combine/reduce script. Reusable operator:
# operators/relational.py:scripted_metric (rank-capped buckets, sorted
# fold — deterministic where real ES scripted_metric is shard-order-
# dependent).
#
# Determinism: the fold is left-to-right over the doc_id-sorted list on
# both engines (F.aggregate ↔ list_reduce with a list_prepend-ed 0.0
# init); 0.5 is exact in binary; one ROUND(.,4) at the surface.
#
# Shape (100 TB): rank window caps each bucket at 10k rows BEFORE
# collect_list (WindowGroupLimit), one shuffle on source; result is
# |sources| rows.
# ---------------------------------------------------------------------------
_SM_CAP = 10_000


@register(
    "q347_scripted_metric",
    oracle=f"""
    WITH d AS (
      SELECT source, list(CAST(n_chars AS DOUBLE) ORDER BY doc_id) AS xs,
             CAST(COUNT(*) AS BIGINT) AS doc_count
      FROM documents GROUP BY source)
    SELECT source, doc_count,
           ROUND(list_reduce(list_prepend(CAST(0 AS DOUBLE), xs[1:{_SM_CAP}]),
                             (acc, x) -> acc * 0.5 + x), 4) AS decayed_len
    FROM d ORDER BY source
    """,
)
def q347_scripted_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", "n_chars"
    )
    out = scripted_metric(
        docs,
        bucket_by=["source"],
        order_by=["doc_id"],
        map_cols=["n_chars"],
        init=F.lit(0.0),
        fold=lambda acc, row: acc * F.lit(0.5) + row["n_chars"].cast("double"),
        cap=_SM_CAP,
        metric_col="decayed_len",
    )
    return out.select(
        "source", "doc_count", F.round("decayed_len", 4).alias("decayed_len")
    ).orderBy("source")


# ---------------------------------------------------------------------------
# q374 — ES `median_absolute_deviation` aggregation: per event_type,
# the median of |value - median(value)| — the robust dispersion ES
# approximates with TDigest; the engine computes it EXACTLY (interp-
# olated median on both engines — Spark `percentile`, DuckDB
# `median` — is the same (a+b)/2 on doubles, so the hashes agree).
#
# Shape (100 TB): two group-by passes over the same 5-key grouping
# (median, then median of deviations) with the 5-row median frame
# broadcast back between them — the exact two-pass any exact-MAD
# needs; swap the percentile for an approx sketch when exactness is
# not contractual.
# ---------------------------------------------------------------------------


@register(
    "q374_median_abs_deviation",
    oracle="""
    WITH med AS (
      SELECT event_type, median(value) AS med
      FROM events GROUP BY event_type)
    SELECT e.event_type,
           ROUND(med.med, 6) AS median_value,
           ROUND(median(abs(e.value - med.med)), 6) AS mad
    FROM events e JOIN med USING (event_type)
    GROUP BY e.event_type, med.med ORDER BY e.event_type
    """,
)
def q374_median_abs_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    return (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type", "med")
        .agg(
            F.expr("percentile(abs(value - med), 0.5)").alias("mad_raw"),
        )
        .select(
            "event_type",
            F.round(F.col("med"), 6).alias("median_value"),
            F.round(F.col("mad_raw"), 6).alias("mad"),
        )
        .orderBy("event_type")
    )
