"""Round-4 (continued) analytics additions: blocked fuzzy matching,
customer-value segmentation, streak analysis, and further LLM-pipeline /
warehouse operators.

Same determinism contract as the rest of the catalog (see
``plans/catalog.py``): portable md5 hashing, exact-DECIMAL money sums,
floored-epoch day arithmetic (never session-timezone ``to_date``), every
computed column aliased identically in Spark and oracle SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import (
    MD5_SPLIT_BUCKET_SQL,
    NORM_SQL,
    STOP_SQL,
    STOPWORDS,
    TOKS_SQL,
    md5_hex,
    md5_hex_int_sql,
    normalize_text,
    tokens,
)
from ..sources.readers import load_table
from .analytics_ext import (
    BASKET_PAIRS_CTE,
    BASKETS_CTE,
    LATEST_PER_KEY_ORACLE,
    lineitem_baskets,
)
from .catalog import register

_FUZZY_MAX_DIST = 4


# ---------------------------------------------------------------------------
# q171 — blocked fuzzy join (entity-matching primitive the q140
# resolution pipeline assumes): candidate pairs of *distinct* part names
# whose edit distance is <= 4, generated ONLY within a blocking key (the
# head noun of the name), never all-pairs. At 100 TB the block key keeps
# the self-join linear in block sizes: Exchange on the noun, in-block
# pair comparison, and levenshtein runs JVM-side (built-in, codegen) —
# no UDF. Both engines compute exact Levenshtein, so `dist` matches
# bit-for-bit.
# ---------------------------------------------------------------------------
@register(
    "q171_fuzzy_blocked_join",
    oracle=f"""
    WITH names AS (
      SELECT DISTINCT p_name, string_split(p_name, ' ')[-1] AS block
      FROM part)
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
    FROM names a JOIN names b
      ON a.block = b.block AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= {_FUZZY_MAX_DIST}
    """,
)
def q171_fuzzy_blocked_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    names = (
        load_table(spark, sf_dir, "part")
        .select("p_name")
        .distinct()
        .withColumn("block", F.element_at(F.split("p_name", " "), -1))
    )
    a = names.select(F.col("p_name").alias("name_a"), F.col("block").alias("ba"))
    b = names.select(F.col("p_name").alias("name_b"), F.col("block").alias("bb"))
    return (
        a.join(b, (F.col("ba") == F.col("bb")) & (F.col("name_a") < F.col("name_b")))
        .withColumn("dist", F.levenshtein("name_a", "name_b").cast("int"))
        .filter(F.col("dist") <= _FUZZY_MAX_DIST)
        .select("name_a", "name_b", "dist")
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
    oracle="""
    WITH per_cust AS (
      SELECT o_custkey AS custkey,
             MAX(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))) AS last_day,
             COUNT(*) AS frequency,
             SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS monetary_dec
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
        F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("monetary_dec"),
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
# q174 — Welch's t-test between two event cohorts (the A/B-test
# primitive behind q139's CUPED): per-cohort n / mean / variance from
# EXACT decimal sums (sum, sum-of-squares of the DECIMAL(18,4)-cast
# value — decimal x decimal products are exact, so both engines feed
# bit-identical doubles into the final formula), then the Welch
# statistic and Satterthwaite df in identically-shaped double
# arithmetic, single-rounded. One scan, one 2-group aggregate — the
# whole test is a map-side-combinable agg at any scale.
# ---------------------------------------------------------------------------
@register(
    "q174_welch_ttest",
    oracle="""
    WITH s AS (
      SELECT event_type,
             COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sv,
             CAST(SUM(CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS svv
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
    vdec = F.col("value").cast("decimal(18,4)")
    s = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(vdec).cast("double").alias("sv"),
        F.sum(vdec * vdec).cast("double").alias("svv"),
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
        sums.append(f"CAST(SUM(CAST({c} AS DECIMAL(18,4))) AS DOUBLE) AS s_{c}")
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
        aggs.append(F.sum(F.col(c).cast("decimal(18,4)")).cast("double").alias(f"s_{c}"))
    for i, a in enumerate(_CORR_COLS):
        for b in _CORR_COLS[i:]:
            aggs.append(
                F.sum(F.col(a).cast("decimal(18,4)") * F.col(b).cast("decimal(18,4)"))
                .cast("double")
                .alias(f"p_{a}_{b}")
            )
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


def _dot_ext_sql(a: str, b: str) -> str:
    # Same array-ordered fold as plans.similarity._dot_sql / operators.similarity.dot.
    return (
        f"list_reduce(list_transform(range(1, len({a})+1),"
        f" i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (x, y) -> x + y)"
    )


def _cos_ext_sql(a: str, b: str) -> str:
    return f"({_dot_ext_sql(a, b)} / (sqrt({_dot_ext_sql(a, a)}) * sqrt({_dot_ext_sql(b, b)})))"


# ---------------------------------------------------------------------------
# q177 — int8 scalar quantization ANN (the memory-bound companion to
# the q148/q149 product-quantization path): per-dimension min/max over
# the corpus (one posexplode aggregate -> a broadcast 1-row stats
# frame; never a driver collect), each float quantized to one of 256
# levels, reconstructed at the level midpoint, and ranked by cosine
# against the FULL-precision query vector (asymmetric distance). The
# exact score rides along so the quantization error is visible per hit.
# At 100 TB the codes are 4x smaller than float32 and the stats frame
# is 64 doubles — the scan is the only distributed work.
# Determinism: floor/least/midpoint arithmetic is identically shaped in
# both engines; folds are array-ordered (operators.similarity.dot).
# ---------------------------------------------------------------------------
_SQ_RECON = (
    "list_transform(range(1, len(v)+1), i -> mins[i] +"
    " (least(floor((CAST(v[i] AS DOUBLE) - mins[i]) / (maxs[i] - mins[i]) * 256.0),"
    " 255.0) + 0.5) * (maxs[i] - mins[i]) / 256.0)"
)


@register(
    "q177_int8_quantized_ann",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
    d AS (SELECT i, MIN(CAST(v[i] AS DOUBLE)) AS mn, MAX(CAST(v[i] AS DOUBLE)) AS mx
          -- dim is fixed at 64 (embeddings schema); DuckDB's range() table
          -- function cannot take the lateral len(v)
          FROM e, range(1, 65) t(i) GROUP BY i),
    s AS (SELECT list(mn ORDER BY i) AS mins, list(mx ORDER BY i) AS maxs FROM d),
    r AS (SELECT vec_id, v, {_SQ_RECON} AS rv FROM e CROSS JOIN s),
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
    SELECT vec_id,
           ROUND({_cos_ext_sql('rv', 'qv')}, 4) AS score_q,
           ROUND({_cos_ext_sql('v', 'qv')}, 4) AS score_exact
    FROM r CROSS JOIN q
    WHERE vec_id != 0
    ORDER BY score_q DESC, vec_id ASC
    LIMIT 10
    """,
)
def q177_int8_quantized_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import dot, norm

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").alias("v")
    )
    stats = (
        emb.select(F.posexplode("v").alias("pos", "x"))
        .groupBy("pos")
        .agg(
            F.min(F.col("x").cast("double")).alias("mn"),
            F.max(F.col("x").cast("double")).alias("mx"),
        )
        .groupBy()
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "mn"))), lambda s: s.mn
            ).alias("mins"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "mx"))), lambda s: s.mx
            ).alias("maxs"),
        )
    )

    def _recon(v):  # mirrors _SQ_RECON
        def level(x, i):
            mn = F.element_at("mins", i + 1)
            mx = F.element_at("maxs", i + 1)
            code = F.least(
                F.floor((x.cast("double") - mn) / (mx - mn) * 256.0).cast("double"),
                F.lit(255.0),
            )
            return mn + (code + F.lit(0.5)) * (mx - mn) / 256.0

        return F.transform(v, level)

    r = emb.crossJoin(F.broadcast(stats)).withColumn("rv", _recon(F.col("v")))
    q = emb.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    return (
        r.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(dot(F.col("rv"), F.col("qv")) / (norm(F.col("rv")) * norm(F.col("qv"))), 4).alias("score_q"),
            F.round(dot(F.col("v"), F.col("qv")) / (norm(F.col("v")) * norm(F.col("qv"))), 4).alias("score_exact"),
        )
        .orderBy(F.desc("score_q"), F.asc("vec_id"))
        .limit(10)
    )


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
# q179 — sorted-neighborhood near-dup detection (the sort-based
# alternative to q32's LSH blocking, classic Hernandez-Stolfo SNM):
# documents are ordered by their normalized text, and each doc is
# compared ONLY to its next `_SNM_WINDOW` neighbors in that order (LEAD
# windows — linear work, never all-pairs). Pairs with token-Jaccard >=
# `_SNM_THRESHOLD` survive. The window is partitioned by the first
# character of the sort key, so at 100 TB the sort is a bounded
# per-prefix-block range sort (lengthen the prefix to shrink blocks) —
# the documented SNM trade-off: boundary pairs across blocks are missed,
# exactly as bucket-boundary pairs are missed by LSH banding.
# Token/normalization spec is shared with the dedup family
# (functions.text.normalize_text / NORM_SQL).
# ---------------------------------------------------------------------------
_SNM_WINDOW = 3
_SNM_THRESHOLD = 0.2
from .dedup import CLUSTER_ID_SQL, COMPONENTS_CTE, LSH_PAIRS_CTE  # noqa: E402
from . import textstats  # noqa: E402,F401  (keeps the catalog's registration order)


@register(
    "q179_sorted_neighborhood",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {NORM_SQL} AS sk,
             list_distinct({TOKS_SQL}) AS tk
      FROM documents),
    p AS (
      SELECT doc_id AS id_a, tk AS tk_a,
             {" , ".join(
               f"LEAD(doc_id, {o}) OVER w AS id_b{o}, LEAD(tk, {o}) OVER w AS tk_b{o}"
               for o in range(1, _SNM_WINDOW + 1)
             )}
      FROM t
      WINDOW w AS (PARTITION BY substr(sk, 1, 1) ORDER BY sk, doc_id)),
    pairs AS (
      {" UNION ALL ".join(
        f"SELECT id_a, id_b{o} AS id_b, {o} AS nbr_offset, tk_a, tk_b{o} AS tk_b FROM p WHERE id_b{o} IS NOT NULL"
        for o in range(1, _SNM_WINDOW + 1)
      )})
    SELECT id_a, id_b, CAST(nbr_offset AS INT) AS nbr_offset,
           ROUND(CAST(len(list_intersect(tk_a, tk_b)) AS DOUBLE)
                 / CAST(len(list_distinct(list_concat(tk_a, tk_b))) AS DOUBLE), 4) AS jaccard
    FROM pairs
    WHERE CAST(len(list_intersect(tk_a, tk_b)) AS DOUBLE)
          / CAST(len(list_distinct(list_concat(tk_a, tk_b))) AS DOUBLE) >= {_SNM_THRESHOLD}
    """,
)
def q179_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        normalize_text(F.col("text")).alias("sk"),
        F.array_distinct(tokens(F.col("text"))).alias("tk"),
    )
    w = Window.partitionBy(F.substring("sk", 1, 1)).orderBy("sk", "doc_id")
    p = docs.select(
        F.col("doc_id").alias("id_a"),
        F.col("tk").alias("tk_a"),
        *[F.lead("doc_id", o).over(w).alias(f"id_b{o}") for o in range(1, _SNM_WINDOW + 1)],
        *[F.lead("tk", o).over(w).alias(f"tk_b{o}") for o in range(1, _SNM_WINDOW + 1)],
    )
    arms = []
    for o in range(1, _SNM_WINDOW + 1):
        arms.append(
            p.filter(F.col(f"id_b{o}").isNotNull()).select(
                "id_a",
                F.col(f"id_b{o}").alias("id_b"),
                F.lit(o).cast("int").alias("nbr_offset"),
                "tk_a",
                F.col(f"tk_b{o}").alias("tk_b"),
            )
        )
    pairs = arms[0]
    for arm in arms[1:]:
        pairs = pairs.unionAll(arm)
    jac = F.size(F.array_intersect("tk_a", "tk_b")).cast("double") / F.size(
        F.array_union("tk_a", "tk_b")
    ).cast("double")
    return (
        pairs.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= _SNM_THRESHOLD)
        .select("id_a", "id_b", "nbr_offset", F.round("jaccard", 4).alias("jaccard"))
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
    oracle="""
    WITH per_part AS (
      SELECT l_partkey AS partkey,
             SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                 * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS rev
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
    dec = lambda c: F.col(c).cast("decimal(18,4)")  # noqa: E731
    per_part = li.groupBy(F.col("l_partkey").alias("partkey")).agg(
        F.sum(dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - dec("l_discount"))).alias("rev")
    )
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
    oracle="""
    WITH per_cust AS (
      SELECT o_custkey AS custkey, SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS rev
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
        F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("rev")
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
    oracle="""
    WITH RECURSIVE hourly AS (
      SELECT event_type,
             CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_s,
             CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS x
      FROM events GROUP BY event_type, hour_s),
    stats AS (
      SELECT event_type, COUNT(*) AS n,
             CAST(SUM(CAST(x AS DECIMAL(18,4))) AS DOUBLE) AS sv,
             CAST(SUM(CAST(x AS DECIMAL(18,4)) * CAST(x AS DECIMAL(18,4))) AS DOUBLE) AS svv
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
        .agg(F.sum(F.col("value").cast("decimal(18,4)")).alias("x_dec"))
        .select("event_type", "hour_s", F.col("x_dec").cast("double").alias("x"))
    )
    stats = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast("decimal(18,4)")).cast("double").alias("sv"),
        F.sum(F.col("x").cast("decimal(18,4)") * F.col("x").cast("decimal(18,4)"))
        .cast("double")
        .alias("svv"),
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
# q184 — bigram-LM perplexity per document (the conditional-probability
# extension of q106's unigram LM quality): add-one-smoothed p(b|a) =
# (c2(a,b)+1)/(c1(a)+V) over corpus bigram/unigram counts, per-doc
# perplexity = exp(-avg ln p). Joins: doc bigrams -> c2 on (a,b), ->
# c1 on (a) — two key-partitioned shuffles over the bigram stream; V and
# nothing else is broadcast. Order-independence: each ln p term is
# rounded to DECIMAL(20,12) and decimal-summed per doc (q182's
# discipline), so the per-doc average is engine-order-proof.
# ---------------------------------------------------------------------------
@register(
    "q184_bigram_perplexity",
    oracle=f"""
    WITH t AS (SELECT doc_id, {TOKS_SQL} AS tk FROM documents),
    bg AS (
      SELECT doc_id, tk[i] AS a, tk[i+1] AS b
      FROM t, UNNEST(range(1, greatest(len(tk) - 1, 0) + 1)) AS u(i)
      WHERE len(tk) >= 2),
    c2 AS (SELECT a, b, COUNT(*) AS n2 FROM bg GROUP BY a, b),
    c1 AS (SELECT a, COUNT(*) AS n1 FROM bg GROUP BY a),
    v AS (SELECT COUNT(DISTINCT u.t) AS vocab FROM t, UNNEST(tk) AS u(t)),
    terms AS (
      SELECT bg.doc_id,
             CAST(ROUND(ln((CAST(c2.n2 AS DOUBLE) + 1.0) / (CAST(c1.n1 AS DOUBLE) + v.vocab)), 12)
                  AS DECIMAL(20,12)) AS lp
      FROM bg JOIN c2 ON bg.a = c2.a AND bg.b = c2.b
              JOIN c1 ON bg.a = c1.a
              CROSS JOIN v)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(exp(-(CAST(SUM(lp) AS DOUBLE) / COUNT(*))), 4) AS perplexity
    FROM terms GROUP BY doc_id
    """,
)
def q184_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens(F.col("text")).alias("tk")
    )
    bg = (
        docs.filter(F.size("tk") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr("transform(slice(tk, 1, size(tk) - 1), (x, i) -> struct(x AS a, tk[i+1] AS b))")
            ).alias("p"),
        )
        .select("doc_id", F.col("p.a").alias("a"), F.col("p.b").alias("b"))
    )
    c2 = bg.groupBy("a", "b").agg(F.count(F.lit(1)).alias("n2"))
    c1 = bg.groupBy("a").agg(F.count(F.lit(1)).alias("n1"))
    v = (
        docs.select(F.explode("tk").alias("t"))
        .agg(F.countDistinct("t").alias("vocab"))
    )
    terms = (
        bg.join(c2, ["a", "b"])
        .join(c1, "a")
        .crossJoin(F.broadcast(v))
        .select(
            "doc_id",
            F.round(
                F.log((F.col("n2").cast("double") + 1.0) / (F.col("n1").cast("double") + F.col("vocab"))),
                12,
            )
            .cast("decimal(20,12)")
            .alias("lp"),
        )
    )
    return terms.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
        F.round(F.exp(-(F.sum("lp").cast("double") / F.count(F.lit(1)))), 4).alias("perplexity"),
    )


# ---------------------------------------------------------------------------
# q185 — tokenizer vocab coverage / OOV rate per document: the vocab is
# the top-`_VOCAB_N` tokens by document frequency (ties broken by token
# asc — deterministic in both engines), and each doc reports its token
# count, in-vocab count and OOV rate. The vocab is dimension-bounded
# (500 rows) and broadcast into the exploded token stream; the per-doc
# rollup is one key-partitioned groupBy. The classic pre-tokenizer
# audit before committing a vocab to a 100 TB training run.
# ---------------------------------------------------------------------------
_VOCAB_N = 500


@register(
    "q185_vocab_coverage",
    oracle=f"""
    WITH t AS (SELECT doc_id, {TOKS_SQL} AS tk FROM documents),
    tok AS (SELECT doc_id, u.t AS token FROM t, UNNEST(tk) AS u(t)),
    df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY token),
    vocab AS (
      SELECT token FROM (
        SELECT token, ROW_NUMBER() OVER (ORDER BY df DESC, token ASC) AS r FROM df)
      WHERE r <= {_VOCAB_N}),
    per_doc AS (
      SELECT tok.doc_id,
             COUNT(*) AS n_tokens,
             SUM(CASE WHEN v.token IS NOT NULL THEN 1 ELSE 0 END) AS in_vocab
      FROM tok LEFT JOIN vocab v ON tok.token = v.token
      GROUP BY tok.doc_id)
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(in_vocab AS BIGINT) AS in_vocab,
           ROUND(1.0 - CAST(in_vocab AS DOUBLE) / n_tokens, 6) AS oov_rate
    FROM per_doc
    """,
)
def q185_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens(F.col("text")).alias("tk")
    )
    # r12 NEGATIVE RESULT: a lazy pin on tok (vocab broadcast build,
    # then the per-doc probe) measured only ~3% in interleaved A/B (min
    # 2.90 vs 2.74 with overlapping run distributions) — below the
    # keep bar, and at scale it would materialize the exploded token
    # stream to save one cheap scan-local explode. Deliberately
    # unpinned.
    tok = docs.select("doc_id", F.explode("tk").alias("token"))
    df = tok.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    vocab = (
        df.select(
            "token", F.row_number().over(Window.orderBy(F.desc("df"), F.asc("token"))).alias("r")
        )
        .filter(F.col("r") <= _VOCAB_N)
        .select("token")
    )
    per_doc = (
        tok.join(F.broadcast(vocab.withColumn("__v", F.lit(1))), "token", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("__v").isNotNull(), 1).otherwise(0)).alias("in_vocab"),
        )
    )
    return per_doc.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("in_vocab").cast("bigint").alias("in_vocab"),
        F.round(F.lit(1.0) - F.col("in_vocab").cast("double") / F.col("n_tokens"), 6).alias("oov_rate"),
    )


# ---------------------------------------------------------------------------
# q186 — asymmetric containment on the LSH candidate pairs (catches
# quote/subset duplication that symmetric Jaccard under-scores): for
# each q32 candidate pair, containment_a = |A∩B|/|A| and the mirror for
# B, flagged when either side >= 0.8. Reuses the exact q32/q33 banding
# machinery (operators.dedup) — same single bucket shuffle, two id-keyed
# shingle joins for the verify.
# ---------------------------------------------------------------------------
@register(
    "q186_containment_pairs",
    oracle=f"""
    {LSH_PAIRS_CTE}
    SELECT id_a, id_b,
           ROUND(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                 / CAST(len(sa.sh) AS DOUBLE), 4) AS containment_a,
           ROUND(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                 / CAST(len(sb.sh) AS DOUBLE), 4) AS containment_b,
           (CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
              / CAST(len(sa.sh) AS DOUBLE) >= 0.8
            OR CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
              / CAST(len(sb.sh) AS DOUBLE) >= 0.8) AS contained
    FROM pairs JOIN s sa ON sa.doc_id = id_a JOIN s sb ON sb.doc_id = id_b
    """,
)
def q186_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dedup as D
    from .dedup import lsh_pairs

    docs = load_table(spark, sf_dir, "documents")
    sh = D.doc_shingles(docs, "doc_id", "text", 3)
    cand = lsh_pairs(sh)
    sa = sh.select(F.col("doc_id").alias("id_a"), F.col("shingles").alias("__sa"))
    sb = sh.select(F.col("doc_id").alias("id_b"), F.col("shingles").alias("__sb"))
    inter = F.size(F.array_intersect("__sa", "__sb")).cast("double")
    ca = inter / F.size("__sa").cast("double")
    cb = inter / F.size("__sb").cast("double")
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(ca, 4).alias("containment_a"),
            F.round(cb, 4).alias("containment_b"),
            ((ca >= 0.8) | (cb >= 0.8)).alias("contained"),
        )
    )


# ---------------------------------------------------------------------------
# q187 — declarative data-quality check suite (the Deequ/dbt-test
# pattern): one row per constraint with its violation count and pass
# flag — uniqueness of o_orderkey, null/blank keys, referential
# integrity orphans (orders->customer, lineitem->orders), domain checks
# (rating-like value bounds, accepted status codes), and a freshness
# probe (events newer than the latest order). Each check is an
# independent aggregate over ONE table scan + (for RI) a broadcast/
# key-partitioned anti-join — the checks union into a single result so
# a 100 TB audit is one job, not one job per rule.
# ---------------------------------------------------------------------------
@register(
    "q187_dq_checks",
    oracle="""
    SELECT 'orders_pk_unique' AS check_name,
           CAST((SELECT COUNT(*) FROM (
              SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING COUNT(*) > 1)) AS BIGINT)
             AS violations
    UNION ALL
    SELECT 'orders_custkey_not_null',
           CAST((SELECT COUNT(*) FROM orders WHERE o_custkey IS NULL) AS BIGINT)
    UNION ALL
    SELECT 'orders_status_domain',
           CAST((SELECT COUNT(*) FROM orders
                 WHERE o_orderstatus NOT IN ('O', 'F', 'P')) AS BIGINT)
    UNION ALL
    SELECT 'orders_customer_ri',
           CAST((SELECT COUNT(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
                AS BIGINT)
    UNION ALL
    SELECT 'lineitem_orders_ri',
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
                AS BIGINT)
    UNION ALL
    SELECT 'lineitem_qty_positive',
           CAST((SELECT COUNT(*) FROM lineitem WHERE l_quantity <= 0) AS BIGINT)
    UNION ALL
    SELECT 'events_value_nonnegative',
           CAST((SELECT COUNT(*) FROM events WHERE value < 0) AS BIGINT)
    """,
)
def q187_dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")
    ev = load_table(spark, sf_dir, "events")

    def one(name: str, df: DataFrame) -> DataFrame:
        return df.groupBy().agg(F.count(F.lit(1)).cast("bigint").alias("violations")).select(
            F.lit(name).alias("check_name"), "violations"
        )

    dup_pk = orders.groupBy("o_orderkey").agg(F.count(F.lit(1)).alias("n")).filter(F.col("n") > 1)
    null_fk = orders.filter(F.col("o_custkey").isNull())
    bad_status = orders.filter(~F.col("o_orderstatus").isin("O", "F", "P"))
    orphan_orders = orders.join(
        F.broadcast(cust.select("c_custkey")), orders.o_custkey == cust.c_custkey, "left_anti"
    )
    orphan_lines = li.join(orders.select("o_orderkey"), li.l_orderkey == orders.o_orderkey, "left_anti")
    bad_qty = li.filter(F.col("l_quantity") <= 0)
    bad_value = ev.filter(F.col("value") < 0)
    checks = [
        one("orders_pk_unique", dup_pk),
        one("orders_custkey_not_null", null_fk),
        one("orders_status_domain", bad_status),
        one("orders_customer_ri", orphan_orders),
        one("lineitem_orders_ri", orphan_lines),
        one("lineitem_qty_positive", bad_qty),
        one("events_value_nonnegative", bad_value),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionAll(c)
    return out


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
# q189 — keep-last-N version retention (the N>1 generalization of
# q170's snapshot compaction — a CDC table's "keep 3 most recent
# versions per key" GC policy): one ROW_NUMBER window per (user_id,
# event_type) ordered by full-precision (ts desc, event_id desc), keep
# version <= 3, emit with its version stamp. Same single key-partitioned
# window at any scale.
# ---------------------------------------------------------------------------
_KEEP_N = 3


@register(
    "q189_keep_last_n",
    oracle=f"""
    SELECT user_id, event_type, event_id,
           epoch_us(ts) AS ts_us,
           CAST(version AS INT) AS version
    FROM (
      SELECT user_id, event_type, event_id, ts,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts DESC, event_id DESC) AS version
      FROM events)
    WHERE version <= {_KEEP_N}
    """,
)
def q189_keep_last_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        ev.withColumn("version", F.row_number().over(w))
        .filter(F.col("version") <= _KEEP_N)
        .select(
            "user_id",
            "event_type",
            "event_id",
            F.unix_micros(F.col("ts")).alias("ts_us"),
            F.col("version").cast("int").alias("version"),
        )
    )


# ---------------------------------------------------------------------------
# q190 — skip-gram PMI co-occurrence (embedding-prep staple; the
# word-level sibling of q73's doc co-occurrence): token pairs within a
# +/-2 window (ordered pair canonicalized a < b), PMI = ln(N * c_ab /
# (c_a * c_b)) over skip-gram counts, top-30 by PMI among pairs with
# c_ab >= 5. Pair generation explodes each position's bounded
# lookahead (2 structs per token — linear, never a doc self-join);
# counts are two key-partitioned aggregates; the unigram side joins
# back broadcast (vocab-bounded).
# ---------------------------------------------------------------------------
@register(
    "q190_pmi_cooccurrence",
    oracle=f"""
    WITH t AS (SELECT doc_id, {TOKS_SQL} AS tk FROM documents),
    grams AS (
      SELECT CASE WHEN tk[i] < tk[i+1] THEN tk[i] ELSE tk[i+1] END AS a,
             CASE WHEN tk[i] < tk[i+1] THEN tk[i+1] ELSE tk[i] END AS b
      FROM t, UNNEST(range(1, greatest(len(tk) - 1, 0) + 1)) AS u(i)
      WHERE len(tk) > 1
      UNION ALL
      SELECT CASE WHEN tk[i] < tk[i+2] THEN tk[i] ELSE tk[i+2] END AS a,
             CASE WHEN tk[i] < tk[i+2] THEN tk[i+2] ELSE tk[i] END AS b
      FROM t, UNNEST(range(1, greatest(len(tk) - 2, 0) + 1)) AS u(i)
      WHERE len(tk) > 2),
    cab AS (SELECT a, b, COUNT(*) AS c_ab FROM grams GROUP BY a, b),
    uni AS (
      SELECT u.t AS tok, COUNT(*) AS c FROM t, UNNEST(tk) AS u(t) GROUP BY u.t),
    n AS (SELECT SUM(c_ab) AS total FROM cab)
    SELECT a, b, CAST(c_ab AS BIGINT) AS c_ab,
           ROUND(ln(CAST(n.total AS DOUBLE) * c_ab / (CAST(ua.c AS DOUBLE) * ub.c)), 6) AS pmi
    FROM cab JOIN uni ua ON cab.a = ua.tok
             JOIN uni ub ON cab.b = ub.tok
             CROSS JOIN n
    WHERE c_ab >= 5
    ORDER BY pmi DESC, a ASC, b ASC LIMIT 30
    """,
)
def q190_pmi_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(tokens(F.col("text")).alias("tk"))
    pair_expr = F.expr(
        "flatten(transform(tk, (x, i) -> filter(transform(sequence(1, 2), d ->"
        " CASE WHEN i + d < size(tk) THEN"
        "   CASE WHEN x < tk[i+d] THEN struct(x AS a, tk[i+d] AS b)"
        "        ELSE struct(tk[i+d] AS a, x AS b) END"
        " ELSE NULL END), p -> p IS NOT NULL)))"
    )
    grams = docs.select(F.explode(pair_expr).alias("p")).select(
        F.col("p.a").alias("a"), F.col("p.b").alias("b")
    )
    cab = grams.groupBy("a", "b").agg(F.count(F.lit(1)).alias("c_ab"))
    uni = docs.select(F.explode("tk").alias("tok")).groupBy("tok").agg(
        F.count(F.lit(1)).alias("c")
    )
    n = cab.groupBy().agg(F.sum("c_ab").alias("total"))
    ua = uni.select(F.col("tok").alias("a"), F.col("c").alias("c_a"))
    ub = uni.select(F.col("tok").alias("b"), F.col("c").alias("c_b"))
    return (
        cab.filter(F.col("c_ab") >= 5)
        .join(F.broadcast(ua), "a")
        .join(F.broadcast(ub), "b")
        .crossJoin(F.broadcast(n))
        .select(
            "a",
            "b",
            F.col("c_ab").cast("bigint").alias("c_ab"),
            F.round(
                F.log(F.col("total").cast("double") * F.col("c_ab") / (F.col("c_a").cast("double") * F.col("c_b"))),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), F.asc("a"), F.asc("b"))
        .limit(30)
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
    oracle="""
    WITH daily AS (
      SELECT event_type,
             CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
             SUM(CAST(value AS DECIMAL(18,4))) AS y
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
    ).agg(F.sum(F.col("value").cast("decimal(18,4)")).alias("y"))
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
    oracle="""
    WITH om AS (
      SELECT o_custkey AS custkey,
             CAST(o_totalprice AS DECIMAL(18,4)) AS rev,
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
        F.col("o_totalprice").cast("decimal(18,4)").alias("rev"),
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
# q193 — null-safe equi-join semantics (<=> / IS NOT DISTINCT FROM — the
# three-valued-logic sibling of q159's NOT IN audit): both sides derive
# a NULLABLE key (NULLIF collapses the 'P' status to NULL) and the join
# must match NULL keys to each other — a plain = join silently drops
# them. Output: per join-key the matched row count and whether the key
# is the NULL bucket. Null-safe joins hash NULL like any value, so the
# plan stays a hash join (no null-splitting rewrite needed).
# ---------------------------------------------------------------------------
@register(
    "q193_null_safe_join",
    oracle="""
    WITH l AS (SELECT NULLIF(o_orderstatus, 'P') AS k, o_orderkey FROM orders),
    r AS (SELECT DISTINCT NULLIF(o_orderstatus, 'P') AS k, o_orderstatus AS label
          FROM orders)
    SELECT COALESCE(l.k, '<null>') AS join_key,
           CAST(l.k IS NULL AS BOOLEAN) AS is_null_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_matched
    FROM l JOIN r ON l.k IS NOT DISTINCT FROM r.k
    GROUP BY l.k
    """,
)
def q193_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    key = F.nullif(F.col("o_orderstatus"), F.lit("P"))
    left = orders.select(key.alias("lk"), "o_orderkey")
    right = orders.select(key.alias("rk"), F.col("o_orderstatus").alias("label")).distinct()
    return (
        left.join(F.broadcast(right), left.lk.eqNullSafe(right.rk))
        .groupBy("lk")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_matched"))
        .select(
            F.coalesce(F.col("lk"), F.lit("<null>")).alias("join_key"),
            F.col("lk").isNull().alias("is_null_bucket"),
            "n_matched",
        )
    )


# ---------------------------------------------------------------------------
# q194 — embedding column profile (q112's column-profile idea lifted to
# array<float>): per-dimension min / max / mean / std in ONE posexplode
# aggregate (64 output rows regardless of corpus size; mean/std from
# exact decimal sums so both engines agree bit-for-bit), plus each
# dimension's zero-fraction — the pre-flight check before the q177
# quantizer or q138's k-means commits to a 100 TB corpus.
# ---------------------------------------------------------------------------
@register(
    "q194_embedding_profile",
    oracle="""
    WITH e AS (SELECT embedding AS v FROM embeddings),
    d AS (SELECT i AS dim, CAST(v[i] AS DOUBLE) AS x
          FROM e, range(1, 65) t(i)),
    s AS (
      SELECT dim, COUNT(*) AS n,
             MIN(x) AS mn, MAX(x) AS mx,
             CAST(SUM(CAST(x AS DECIMAL(18,9))) AS DOUBLE) AS sv,
             CAST(SUM(CAST(x AS DECIMAL(18,9)) * CAST(x AS DECIMAL(18,9))) AS DOUBLE) AS svv,
             SUM(CASE WHEN x = 0 THEN 1 ELSE 0 END) AS zeros
      FROM d GROUP BY dim)
    SELECT CAST(dim AS INT) AS dim, CAST(n AS BIGINT) AS n,
           ROUND(mn, 6) AS mn, ROUND(mx, 6) AS mx,
           ROUND(sv / n, 6) AS mean,
           ROUND(sqrt((svv - sv * sv / n) / (n - 1)), 6) AS std,
           ROUND(CAST(zeros AS DOUBLE) / n, 6) AS zero_frac
    FROM s
    """,
)
def q194_embedding_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    d = emb.select(F.posexplode("embedding").alias("pos", "xf")).select(
        (F.col("pos") + 1).alias("dim"), F.col("xf").cast("double").alias("x")
    )
    xd = F.col("x").cast("decimal(18,9)")
    s = d.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("x").alias("mn"),
        F.max("x").alias("mx"),
        F.sum(xd).cast("double").alias("sv"),
        F.sum(xd * xd).cast("double").alias("svv"),
        F.sum(F.when(F.col("x") == 0, 1).otherwise(0)).alias("zeros"),
    )
    return s.select(
        F.col("dim").cast("int").alias("dim"),
        F.col("n").cast("bigint").alias("n"),
        F.round("mn", 6).alias("mn"),
        F.round("mx", 6).alias("mx"),
        F.round(F.col("sv") / F.col("n"), 6).alias("mean"),
        F.round(F.sqrt((F.col("svv") - F.col("sv") * F.col("sv") / F.col("n")) / (F.col("n") - 1)), 6).alias("std"),
        F.round(F.col("zeros").cast("double") / F.col("n"), 6).alias("zero_frac"),
    )


# ---------------------------------------------------------------------------
# q195 — bloom-filter semi-join pruning audit (the runtime-filter
# technique AQE/DPP apply at 100 TB, made explicit and measurable): the
# dim side (BUILDING-segment customers) sets k=3 md5-derived bit
# positions in an m=4096 bloom filter; the fact side (orders) keeps
# rows whose 3 positions are all set. Output: exact semi-join count,
# bloom candidate count, and the realized false-positive rate — est
# candidates >= exact always (no false negatives, the bloom guarantee,
# pinned by the guard test). The filter is a 1-row broadcast array;
# the probe is three array_contains per row — no shuffle of the fact
# table at all.
# ---------------------------------------------------------------------------
_BLOOM_K, _BLOOM_M = 3, 4096


def _bloom_pos_sql(j: int, key: str) -> str:
    key_expr = f"'{j}|' || CAST({key} AS VARCHAR)"
    return f"({md5_hex_int_sql(key_expr, 4)} % {_BLOOM_M})"


def _bloom_pos_col(j: int, key: F.Column) -> F.Column:
    k = F.concat(F.lit(f"{j}|"), key.cast("string"))
    return (F.conv(F.substring(F.md5(k), 1, 4), 16, 10).cast("long") % _BLOOM_M).cast("int")


@register(
    "q195_bloom_semi_join",
    oracle=f"""
    WITH dim AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
    bits AS (
      SELECT list_sort(list(DISTINCT p)) AS bs FROM (
        {" UNION ALL ".join(f"SELECT {_bloom_pos_sql(j, 'c_custkey')} AS p FROM dim" for j in range(_BLOOM_K))})),
    probe AS (
      SELECT o_orderkey, o_custkey,
             {" AND ".join(f"list_contains(bits.bs, {_bloom_pos_sql(j, 'o_custkey')})" for j in range(_BLOOM_K))}
               AS candidate
      FROM orders CROSS JOIN bits),
    exact AS (
      SELECT COUNT(*) AS n_exact FROM orders o
      WHERE EXISTS (SELECT 1 FROM dim d WHERE d.c_custkey = o.o_custkey)),
    agg AS (SELECT COUNT(*) AS n_orders,
                   SUM(CASE WHEN candidate THEN 1 ELSE 0 END) AS n_candidates
            FROM probe)
    SELECT CAST((SELECT COUNT(*) FROM dim) AS BIGINT) AS n_dim,
           CAST((SELECT len(bs) FROM bits) AS BIGINT) AS n_bits_set,
           CAST(agg.n_orders AS BIGINT) AS n_orders,
           CAST(exact.n_exact AS BIGINT) AS n_exact,
           CAST(agg.n_candidates AS BIGINT) AS n_candidates,
           ROUND(CAST(agg.n_candidates - exact.n_exact AS DOUBLE)
                 / (agg.n_orders - exact.n_exact), 6) AS fp_rate
    FROM agg CROSS JOIN exact
    """,
)
def q195_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    dim = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    pos_arms = [
        dim.select(_bloom_pos_col(j, F.col("c_custkey")).alias("p")) for j in range(_BLOOM_K)
    ]
    pos = pos_arms[0]
    for arm in pos_arms[1:]:
        pos = pos.unionAll(arm)
    # 1-row frame, two consumers (dense probe + n_bits_set): pin it
    bits = pos.groupBy().agg(
        F.array_sort(F.collect_set("p")).alias("bs")
    ).localCheckpoint(eager=False)
    # Probe via a DENSE boolean array indexed by position: element_at on
    # an array ordinal is O(1), while array_contains LINEARLY scans the
    # ~0.5*M set per probe — at 3 probes x |orders| x |bs| comparisons
    # that scan dominated the query. The dense form is built ONCE on the
    # 1-row bits frame (O(M * |bs|), sub-second) and broadcast; the
    # candidate predicate is value-identical.
    dense = bits.select(
        F.transform(
            F.sequence(F.lit(0), F.lit(_BLOOM_M - 1)),
            lambda i: F.array_contains("bs", i.cast("int")),
        ).alias("bd")
    )
    probe = orders.crossJoin(F.broadcast(dense)).withColumn(
        "candidate",
        F.lit(True)
        & F.element_at("bd", _bloom_pos_col(0, F.col("o_custkey")) + 1)
        & F.element_at("bd", _bloom_pos_col(1, F.col("o_custkey")) + 1)
        & F.element_at("bd", _bloom_pos_col(2, F.col("o_custkey")) + 1),
    )
    agg = probe.groupBy().agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.when(F.col("candidate"), 1).otherwise(0)).alias("n_candidates"),
    )
    n_exact = (
        orders.join(F.broadcast(dim), orders.o_custkey == dim.c_custkey, "left_semi")
        .groupBy()
        .agg(F.count(F.lit(1)).alias("n_exact"))
    )
    n_dim = dim.groupBy().agg(F.count(F.lit(1)).alias("n_dim"))
    n_bits = bits.select(F.size("bs").alias("n_bits_set"))
    return (
        agg.crossJoin(F.broadcast(n_exact))
        .crossJoin(F.broadcast(n_dim))
        .crossJoin(F.broadcast(n_bits))
        .select(
            F.col("n_dim").cast("bigint").alias("n_dim"),
            F.col("n_bits_set").cast("bigint").alias("n_bits_set"),
            F.col("n_orders").cast("bigint").alias("n_orders"),
            F.col("n_exact").cast("bigint").alias("n_exact"),
            F.col("n_candidates").cast("bigint").alias("n_candidates"),
            F.round(
                (F.col("n_candidates") - F.col("n_exact")).cast("double")
                / (F.col("n_orders") - F.col("n_exact")),
                6,
            ).alias("fp_rate"),
        )
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

    def at(q: float) -> F.Column:
        return F.round(
            F.max(F.when(F.col("rn") == F.ceil(F.lit(q) * F.col("n")).cast("bigint"), F.col("v"))),
            2,
        )

    return r.groupBy("segment").agg(
        F.max("n").cast("bigint").alias("n_orders"),
        at(0.50).alias("median_price"),
        at(0.90).alias("p90_price"),
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
# q199 — dedup with BEST-quality survivor selection (the curation-aware
# ending of the dedup story: q32 candidates -> q78 clusters -> keep the
# highest-quality member instead of q90's min-id convention): for every
# multi-member near-dup cluster, the keeper is argmax by (q42's rounded
# quality score, then min doc_id) — ROUNDED quality feeds the ordering
# so both engines rank identically. Reuses the exact banding/cluster
# machinery (operators.dedup) and the q42 quality formula; the quality
# join touches only clustered docs (candidate-pair nodes), not the
# whole corpus.
# ---------------------------------------------------------------------------
@register(
    "q199_dedup_keep_best",
    oracle=f"""
    {COMPONENTS_CTE},
    comp AS (
      SELECT node, {CLUSTER_ID_SQL} AS cluster_id
      FROM reach GROUP BY node),
    quality AS (
      SELECT doc_id,
             ROUND(0.5 * least(CAST(len(tk) AS DOUBLE) / 100.0, 1.0)
                   + 0.5 * least((CAST(len(list_filter(tk, x -> list_contains({STOP_SQL}, x))) AS DOUBLE)
                                  / CAST(len(tk) AS DOUBLE)) * 10.0, 1.0), 4) AS quality
      FROM t),
    ranked AS (
      SELECT c.cluster_id, c.node, q.quality,
             ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                                ORDER BY q.quality DESC, c.node ASC) AS rn
      FROM comp c JOIN quality q ON c.node = q.doc_id)
    SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(MAX(CASE WHEN rn = 1 THEN node END) AS BIGINT) AS kept_doc_id,
           MAX(CASE WHEN rn = 1 THEN quality END) AS kept_quality
    FROM ranked GROUP BY cluster_id
    HAVING COUNT(*) >= 2
    """,
)
def q199_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import lsh_clusters

    docs = load_table(spark, sf_dir, "documents")
    clusters = lsh_clusters(docs)  # (node, cluster_id)
    tk = docs.select("doc_id", tokens("text").alias("tk"))
    n_tokens = F.size("tk")
    nstop = F.size(F.filter(F.col("tk"), lambda t: t.isin(*STOPWORDS)))
    quality = F.round(
        F.lit(0.5) * F.least(n_tokens.cast("double") / F.lit(100.0), F.lit(1.0))
        + F.lit(0.5)
        * F.least((nstop.cast("double") / n_tokens.cast("double")) * F.lit(10.0), F.lit(1.0)),
        4,
    )
    q = tk.select("doc_id", quality.alias("quality"))
    members = clusters.join(q, clusters.node == q.doc_id).select(
        "cluster_id", "node", "quality"
    )
    w = Window.partitionBy("cluster_id").orderBy(F.desc("quality"), F.asc("node"))
    ranked = members.withColumn("rn", F.row_number().over(w))
    return (
        ranked.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.max(F.when(F.col("rn") == 1, F.col("node"))).cast("bigint").alias("kept_doc_id"),
            F.max(F.when(F.col("rn") == 1, F.col("quality"))).alias("kept_quality"),
        )
        .filter(F.col("n_members") >= 2)
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
    oracle="""
    WITH per_part AS (
      SELECT l_partkey AS partkey,
             SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                 * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS rev,
             SUM(CAST(l_quantity AS DECIMAL(18,4))) AS qty
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
    dec = lambda c: F.col(c).cast("decimal(18,4)")  # noqa: E731
    # both rankings consume this aggregate: pin it so the fact scan +
    # per-part shuffle run once instead of once per ranking branch
    per_part = li.groupBy(F.col("l_partkey").alias("partkey")).agg(
        F.sum(dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - dec("l_discount"))).alias("rev"),
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
# q202 — exact weighted median (quantity-weighted order price per
# segment; the weighted completion of q197's rank quantiles): the
# weighted median is the first value, in (value, orderkey) order, whose
# running weight reaches half the segment's total weight — cumulative
# exact-DECIMAL weight windows, no interpolation, no native percentile.
# ---------------------------------------------------------------------------
@register(
    "q202_weighted_median",
    oracle="""
    WITH j AS (
      SELECT c.c_mktsegment AS segment, l.l_extendedprice AS v,
             CAST(l.l_quantity AS DECIMAL(18,4)) AS w, l.l_orderkey
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
           CAST(CAST(total_w AS DECIMAL(18,4)) AS DOUBLE) AS total_weight,
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
            F.col("l_quantity").cast("decimal(18,4)").alias("w"),
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
    oracle="""
    WITH per_cust AS (
      SELECT o_custkey AS custkey, SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS rev
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
        F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("rev")
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
# q204 — lexical diversity per source (type-token ratio + hapax rate;
# the corpus-health stat q42's quality score doesn't see): per document
# source, total tokens, distinct tokens, TTR, and the share of tokens
# appearing exactly once in that source (hapax legomena) — boilerplate-
# heavy sources crater both numbers. Two key-partitioned aggregates
# over the exploded token stream, nothing quadratic.
# ---------------------------------------------------------------------------
@register(
    "q204_lexical_diversity",
    oracle=f"""
    WITH t AS (SELECT source, {TOKS_SQL} AS tk FROM documents),
    tok AS (SELECT source, u.t AS token FROM t, UNNEST(tk) AS u(t)),
    cnt AS (SELECT source, token, COUNT(*) AS k FROM tok GROUP BY source, token)
    SELECT source,
           CAST(SUM(k) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           ROUND(CAST(COUNT(*) AS DOUBLE) / SUM(k), 6) AS ttr,
           CAST(SUM(CASE WHEN k = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
           ROUND(CAST(SUM(CASE WHEN k = 1 THEN 1 ELSE 0 END) AS DOUBLE) / SUM(k), 6) AS hapax_rate
    FROM cnt GROUP BY source
    """,
)
def q204_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "source", tokens(F.col("text")).alias("tk")
    )
    cnt = (
        docs.select("source", F.explode("tk").alias("token"))
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    hapax = F.sum(F.when(F.col("k") == 1, 1).otherwise(0))
    return cnt.groupBy("source").agg(
        F.sum("k").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.round(F.count(F.lit(1)).cast("double") / F.sum("k"), 6).alias("ttr"),
        hapax.cast("bigint").alias("n_hapax"),
        F.round(hapax.cast("double") / F.sum("k"), 6).alias("hapax_rate"),
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
    b AS (SELECT CASE WHEN h < 204 THEN 'train' WHEN h < 230 THEN 'val' ELSE 'test' END AS split
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
        F.when(h < 204, "train").when(h < 230, "val").otherwise("test").alias("split")
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
# q207 — insert-safe dense id assignment (the dimension-key /
# embedding-row mapping job): the standing corpus (doc_id % 4 != 0)
# already holds dense ids 1..N in doc_id order; the new batch
# (doc_id % 4 == 0 — q99's increment convention) gets ids APPENDED
# after max(N) in doc_id order, never renumbering history (an
# embedding table keyed by dense_id must not reshuffle). Output: the
# full mapping with an is_new flag. Two rank windows over disjoint
# partitions + one broadcast max — the history side is never rewritten.
# ---------------------------------------------------------------------------
@register(
    "q207_dense_id_mapping",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY doc_id) AS dense_id
      FROM documents WHERE doc_id % 4 != 0),
    mx AS (SELECT COUNT(*) AS n FROM corpus),
    batch AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY doc_id) AS r
      FROM documents WHERE doc_id % 4 = 0)
    SELECT doc_id, CAST(dense_id AS BIGINT) AS dense_id, FALSE AS is_new FROM corpus
    UNION ALL
    SELECT b.doc_id, CAST(mx.n + b.r AS BIGINT) AS dense_id, TRUE AS is_new
    FROM batch b CROSS JOIN mx
    """,
)
def q207_dense_id_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    corpus = docs.filter(F.col("doc_id") % 4 != 0).select(
        "doc_id", F.row_number().over(Window.orderBy("doc_id")).alias("dense_id")
    )
    mx = corpus.groupBy().agg(F.count(F.lit(1)).alias("n"))
    batch = docs.filter(F.col("doc_id") % 4 == 0).select(
        "doc_id", F.row_number().over(Window.orderBy("doc_id")).alias("r")
    )
    old = corpus.select("doc_id", F.col("dense_id").cast("bigint").alias("dense_id"), F.lit(False).alias("is_new"))
    new = batch.crossJoin(F.broadcast(mx)).select(
        "doc_id", (F.col("n") + F.col("r")).cast("bigint").alias("dense_id"), F.lit(True).alias("is_new")
    )
    return old.unionAll(new)


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
# q210 — peak detection over the daily series (ops-alerting primitive
# feeding q183's CUSUM): a day is a peak when its exact-DECIMAL value
# sum exceeds both neighbors AND 1.5x the 7-day trailing mean (current
# day excluded, full trailing window required). Lag/lead + one trailing
# frame over the per-type daily rollup; comparisons happen on the
# exact decimals, doubles appear only in the emitted columns.
# ---------------------------------------------------------------------------
@register(
    "q210_peak_detection",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
             SUM(CAST(value AS DECIMAL(18,4))) AS y
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
    ).agg(F.sum(F.col("value").cast("decimal(18,4)")).alias("y"))
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

    def at(q: float) -> F.Column:
        return F.max(
            F.when(F.col("rn") == F.ceil(F.lit(q) * F.col("n")).cast("bigint"), F.col("value"))
        )

    qs = r.groupBy("event_type").agg(F.max("n").alias("n"), at(0.25).alias("q1"), at(0.75).alias("q3"))
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
# q213 — order/lineitem reconciliation audit (the cross-table
# consistency check q187's suite points at but doesn't drill into):
# per order, |o_totalprice - sum(line net revenue)| relative to the
# header total, bucketed into consistency bands. Exact-DECIMAL line
# sums; the relative diff is double only at the final compare. One
# key-partitioned join+agg, then a 4-row rollup.
# (The synthetic fixture isn't constructed to reconcile — the audit's
# OUTPUT DISTRIBUTION is the deterministic artifact under test.)
# ---------------------------------------------------------------------------
@register(
    "q213_reconciliation_audit",
    oracle="""
    WITH line_sum AS (
      SELECT l_orderkey,
             SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                 * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS net
      FROM lineitem GROUP BY l_orderkey),
    d AS (
      SELECT o.o_orderkey,
             abs(o.o_totalprice - CAST(ls.net AS DOUBLE)) / o.o_totalprice AS rel_diff
      FROM orders o JOIN line_sum ls ON o.o_orderkey = ls.l_orderkey
      WHERE o.o_totalprice > 0),
    b AS (
      SELECT CASE WHEN rel_diff < 0.001 THEN 'exact_0.1pct'
                  WHEN rel_diff < 0.01 THEN 'within_1pct'
                  WHEN rel_diff < 0.10 THEN 'within_10pct'
                  ELSE 'mismatch' END AS band
      FROM d),
    t AS (SELECT COUNT(*) AS total FROM b)
    SELECT band, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CAST(COUNT(*) AS DOUBLE) / t.total, 6) AS share
    FROM b CROSS JOIN t GROUP BY band, t.total
    """,
)
def q213_reconciliation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    dec = lambda c: F.col(c).cast("decimal(18,4)")  # noqa: E731
    line_sum = li.groupBy("l_orderkey").agg(
        F.sum(dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - dec("l_discount"))).alias("net")
    )
    d = (
        orders.filter(F.col("o_totalprice") > 0)
        .join(line_sum, orders.o_orderkey == line_sum.l_orderkey)
        .select(
            (F.abs(F.col("o_totalprice") - F.col("net").cast("double")) / F.col("o_totalprice")).alias("rel_diff")
        )
    )
    b = d.select(
        F.when(F.col("rel_diff") < 0.001, "exact_0.1pct")
        .when(F.col("rel_diff") < 0.01, "within_1pct")
        .when(F.col("rel_diff") < 0.10, "within_10pct")
        .otherwise("mismatch")
        .alias("band")
    )
    t = b.groupBy().agg(F.count(F.lit(1)).alias("total"))
    return (
        b.groupBy("band")
        .agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(F.broadcast(t))
        .select(
            "band",
            F.col("n").cast("bigint").alias("n"),
            F.round(F.col("n").cast("double") / F.col("total"), 6).alias("share"),
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

    def at(q: float) -> F.Column:
        return F.round(
            F.max(F.when(F.col("rn") == F.ceil(F.lit(q) * F.col("n")).cast("bigint"), F.col("value"))),
            2,
        )

    return r.groupBy("day").agg(
        F.max("n").cast("bigint").alias("n_events"),
        at(0.10).alias("p10"),
        at(0.50).alias("p50"),
        at(0.90).alias("p90"),
    )


# ---------------------------------------------------------------------------
# q215 — common-neighbor link prediction over the co-purchase graph
# (the missing-edge scorer next to q126/q146/q161): for part pairs NOT
# directly co-purchased, score = |N(a) ∩ N(b)| over BOUNDED
# neighborhoods, plus neighbor-Jaccard; top-20 candidate links.
#
# Scale design: the naive neighbor-of-neighbor join costs Σ deg(m)² —
# measured 450M intermediate rows at sf0.1 (48 s) and unbounded under
# data growth, so BOTH graph fan-outs are deterministically capped
# before the two-hop join: each node keeps its top-FANOUT neighbors by
# (support DESC, id ASC), then each neighbor keeps at most FANIN
# reverse edges by the same order. Two-hop volume is then ≤
# FANIN·FANOUT·|nodes| regardless of popularity skew — this is the
# standard truncated-neighborhood formulation used by item-CF link
# predictors. Degrees and Jaccard use the same truncated edge set;
# direct edges are anti-joined out on the UNtruncated pair set.
# ---------------------------------------------------------------------------
_CN_FANOUT, _CN_FANIN = 20, 50


@register(
    "q215_common_neighbors",
    oracle=f"""
    WITH {BASKETS_CTE},
    rawpairs AS (
      SELECT p1.part AS a, p2.part AS b
      FROM baskets, UNNEST(parts) AS p1(part), UNNEST(parts) AS p2(part)
      WHERE p1.part != p2.part),
    pairs AS (SELECT a, b, COUNT(*) AS sup FROM rawpairs GROUP BY a, b),
    fwd AS (
      SELECT a, b, sup FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY a ORDER BY sup DESC, b ASC) AS rn
        FROM pairs) WHERE rn <= {_CN_FANOUT}),
    edges AS (
      SELECT a, b FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY b ORDER BY sup DESC, a ASC) AS rn
        FROM fwd) WHERE rn <= {_CN_FANIN}),
    deg AS (SELECT a AS node, COUNT(*) AS deg FROM edges GROUP BY a),
    two_hop AS (
      SELECT e1.a AS a, e2.a AS b, COUNT(*) AS common
      FROM edges e1 JOIN edges e2 ON e1.b = e2.b
      WHERE e1.a < e2.a
      GROUP BY e1.a, e2.a),
    cand AS (
      SELECT t.a, t.b, t.common
      FROM two_hop t LEFT JOIN pairs p ON t.a = p.a AND t.b = p.b
      WHERE p.a IS NULL),
    scored AS (
      SELECT c.a, c.b, c.common,
             ROUND(CAST(c.common AS DOUBLE) / (da.deg + db.deg - c.common), 6) AS neighbor_jaccard
      FROM cand c JOIN deg da ON c.a = da.node JOIN deg db ON c.b = db.node)
    SELECT a, b, CAST(common AS BIGINT) AS common, neighbor_jaccard
    FROM scored
    ORDER BY common DESC, neighbor_jaccard DESC, a ASC, b ASC
    LIMIT 20
    """,
)
def q215_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    baskets = lineitem_baskets(spark, sf_dir)
    # Generate each unordered pair ONCE (a < b): support is symmetric,
    # so exploding both directions only to re-count them doubles the
    # rows through the explode and the (a, b) shuffle — the ~630M-row
    # stage at sf10 (SCALE_r10) becomes ~315M. The full symmetric table
    # is mirrored AFTER the aggregate (a projection, no extra shuffle).
    pair_expr = F.expr(
        "flatten(transform(parts, a -> transform(filter(parts, b -> b > a),"
        " b -> struct(a AS a, b AS b))))"
    )
    half = (
        baskets.select(F.explode(pair_expr).alias("p"))
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("sup"))
        # `half` feeds the truncated edge set (via the mirror) AND the
        # direct-edge anti-join; without a lineage pin the basket-pair
        # explode and its (a,b) shuffle run TWICE — the round-10 sf10
        # flag (18.2x) was mostly this double computation. Lazy
        # checkpoint: materialized on first use inside the job, reused
        # by the second consumer, nothing executes at plan-build time.
        .localCheckpoint(eager=False)
    )
    pairs = half.unionAll(
        half.select(F.col("b").alias("a"), F.col("a").alias("b"), "sup")
    )
    w_fwd = Window.partitionBy("a").orderBy(F.desc("sup"), F.asc("b"))
    fwd = pairs.withColumn("rn", F.row_number().over(w_fwd)).filter(
        F.col("rn") <= _CN_FANOUT
    ).drop("rn")
    w_rev = Window.partitionBy("b").orderBy(F.desc("sup"), F.asc("a"))
    # r12 NEGATIVE RESULT (VERDICT task 7, measured and reverted):
    # edges is consumed three ways (deg + both self-join sides) and each
    # replays the fanout/fanin WindowGroupLimit chain, but a lazy
    # localCheckpoint measured consistently SLOWER in interleaved
    # same-session A/B (min 6.17 unpinned vs 6.41 pinned; every paired
    # run agreed): the replays are broadcast builds + join sides that
    # overlap as parallel stages over `half`'s already-pinned output, so
    # the pin only adds materialization (the r11 parallel-consumer
    # rule). The WGL chains themselves consume the HALF-pair table via
    # the mirror projection — the r10 fanout-sort concern was mostly
    # addressed by the r11 half-pair fix.
    edges = fwd.withColumn("rn", F.row_number().over(w_rev)).filter(
        F.col("rn") <= _CN_FANIN
    ).select("a", "b")
    deg = edges.groupBy(F.col("a").alias("node")).agg(F.count(F.lit(1)).alias("deg"))
    e1 = edges.select("a", F.col("b").alias("mid"))
    e2 = edges.select(F.col("a").alias("b"), F.col("b").alias("mid"))
    two_hop = (
        e1.join(e2, "mid")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    # two_hop already enforces a < b, so a candidate is a direct edge
    # iff it appears in the a<b HALF — anti-join the un-mirrored side
    # (half the build rows of the symmetric table).
    cand = two_hop.join(half.select("a", "b"), ["a", "b"], "left_anti")
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b"))
    scored = (
        cand.join(F.broadcast(da), "a")
        .join(F.broadcast(db), "b")
        .select(
            "a",
            "b",
            F.col("common").cast("bigint").alias("common"),
            F.round(
                F.col("common").cast("double") / (F.col("deg_a") + F.col("deg_b") - F.col("common")),
                6,
            ).alias("neighbor_jaccard"),
        )
    )
    return scored.orderBy(
        F.desc("common"), F.desc("neighbor_jaccard"), F.asc("a"), F.asc("b")
    ).limit(20)


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
    from .analytics_ext import q75_item_item_similarity

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
# q217 — per-document keyword extraction (q69's corpus TF-IDF turned
# into the per-doc top-3): tf = in-doc term count, idf = ln(N/df) over
# the corpus, top-3 terms per doc by tf*idf (tie: term asc). The df
# table is vocab-bounded and joins into the exploded token stream; the
# per-doc top-3 is a rank window partitioned by doc.
# ---------------------------------------------------------------------------
@register(
    "q217_doc_keywords",
    oracle=f"""
    WITH t AS (SELECT doc_id, {TOKS_SQL} AS tk FROM documents),
    tok AS (SELECT doc_id, u.t AS term FROM t, UNNEST(tk) AS u(t)),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
    df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM t),
    scored AS (
      SELECT tf.doc_id, tf.term,
             ROUND(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
      FROM tf JOIN df ON tf.term = df.term CROSS JOIN n),
    ranked AS (
      SELECT doc_id, term, tfidf,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rn
      FROM scored)
    SELECT doc_id, CAST(rn AS INT) AS rank, term, tfidf
    FROM ranked WHERE rn <= 3
    """,
)
def q217_doc_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens(F.col("text")).alias("tk")
    )
    tok = docs.select("doc_id", F.explode("tk").alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n = docs.groupBy().agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6).alias("tfidf"),
        )
    )
    ranked = scored.withColumn(
        "rank",
        F.row_number().over(Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))),
    )
    return ranked.filter(F.col("rank") <= 3).select(
        "doc_id", F.col("rank").cast("int").alias("rank"), "term", "tfidf"
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
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
             CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS y
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
    ).agg(F.sum(F.col("value").cast("decimal(18,4)")).cast("decimal(18,4)").alias("y"))
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
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
             SUM(CAST(value AS DECIMAL(18,4))) AS y
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
    ).agg(F.sum(F.col("value").cast("decimal(18,4)")).alias("y"))
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
# q221 — embedding cluster cohesion/separation by label (clustering
# eval over the labeled corpus; the readout q138's k-means lacks): per
# label, the centroid (per-dim decimal-exact means via one posexplode
# agg), mean member distance to OWN centroid (cohesion), and distance
# to the NEAREST other centroid (separation) — the Davies-Bouldin
# ingredients. Distances fold array-ordered (q177's discipline); the
# per-member distance terms go through rounded-decimal sums so the
# per-label mean is fold-order-proof. Centroid count is label-bounded:
# the centroid frame broadcasts everywhere.
# ---------------------------------------------------------------------------
@register(
    "q221_cluster_cohesion",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, embedding AS v FROM embeddings),
    d AS (SELECT label, i, AVG(CAST(v[i] AS DOUBLE)) AS m,
                 CAST(SUM(CAST(v[i] AS DECIMAL(18,9))) AS DOUBLE) AS sv,
                 COUNT(*) AS n
          FROM e, range(1, 65) t(i) GROUP BY label, i),
    c AS (SELECT label, list(sv / n ORDER BY i) AS centroid FROM d GROUP BY label),
    dist AS (
      SELECT e.vec_id, e.label AS mlabel, c.label AS clabel,
             sqrt(list_reduce(list_transform(range(1, 65),
               i -> (CAST(e.v[i] AS DOUBLE) - c.centroid[i]) * (CAST(e.v[i] AS DOUBLE) - c.centroid[i])),
               (x, y) -> x + y)) AS dd
      FROM e CROSS JOIN c),
    own AS (
      SELECT mlabel AS label,
             CAST(SUM(CAST(ROUND(dd, 12) AS DECIMAL(20,12))) AS DOUBLE) / COUNT(*) AS cohesion
      FROM dist WHERE mlabel = clabel GROUP BY mlabel),
    cent_pairs AS (
      SELECT a.label AS la, b.label AS lb,
             sqrt(list_reduce(list_transform(range(1, 65),
               i -> (a.centroid[i] - b.centroid[i]) * (a.centroid[i] - b.centroid[i])),
               (x, y) -> x + y)) AS cd
      FROM c a JOIN c b ON a.label != b.label),
    sep AS (SELECT la AS label, MIN(cd) AS separation FROM cent_pairs GROUP BY la)
    SELECT o.label, ROUND(o.cohesion, 6) AS cohesion,
           ROUND(s.separation, 6) AS separation,
           ROUND(o.cohesion / s.separation, 6) AS db_ratio
    FROM own o JOIN sep s ON o.label = s.label
    """,
)
def q221_cluster_cohesion(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label", F.col("embedding").alias("v"))
    d = (
        emb.select("label", F.posexplode("v").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(F.sum(F.col("x").cast("decimal(18,9)")).cast("double").alias("sv"), F.count(F.lit(1)).alias("n"))
    )
    c = d.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", (F.col("sv") / F.col("n")).alias("m")))),
            lambda s: s.m,
        ).alias("centroid")
    )
    cc = F.broadcast(c.select(F.col("label").alias("clabel"), "centroid"))
    diff_sq = F.zip_with(
        F.col("v"), F.col("centroid"), lambda a, b: (a.cast("double") - b) * (a.cast("double") - b)
    )
    dd = F.sqrt(F.aggregate(diff_sq, F.lit(0.0), lambda acc, x: acc + x))
    dist = emb.crossJoin(cc).select(
        F.col("label").alias("mlabel"), "clabel", dd.alias("dd")
    )
    own = (
        dist.filter(F.col("mlabel") == F.col("clabel"))
        .select(F.col("mlabel").alias("label"), F.round("dd", 12).cast("decimal(20,12)").alias("t"))
        .groupBy("label")
        .agg((F.sum("t").cast("double") / F.count(F.lit(1))).alias("cohesion"))
    )
    a = c.select(F.col("label").alias("la"), F.col("centroid").alias("ca"))
    b = c.select(F.col("label").alias("lb"), F.col("centroid").alias("cb"))
    cdiff = F.zip_with(F.col("ca"), F.col("cb"), lambda x, y: (x - y) * (x - y))
    cd = F.sqrt(F.aggregate(cdiff, F.lit(0.0), lambda acc, x: acc + x))
    sep = (
        a.join(F.broadcast(b), F.col("la") != F.col("lb"))
        .select(F.col("la").alias("label"), cd.alias("cd"))
        .groupBy("label")
        .agg(F.min("cd").alias("separation"))
    )
    return own.join(sep, "label").select(
        "label",
        F.round("cohesion", 6).alias("cohesion"),
        F.round("separation", 6).alias("separation"),
        F.round(F.col("cohesion") / F.col("separation"), 6).alias("db_ratio"),
    )


# ---------------------------------------------------------------------------
# q222 — duplicate rate by source (the curation decision table the
# dedup family feeds: which ingestion source is worth its storage):
# per source, exact-content-hash (md5, q31's spec) duplicate counts —
# docs whose text also appears elsewhere IN THE SAME SOURCE vs
# cross-source collisions. Two aggregates over the hash frame.
# ---------------------------------------------------------------------------
@register(
    "q222_dup_rate_by_source",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, source,
             md5({NORM_SQL}) AS ch
      FROM documents),
    within AS (
      SELECT source, ch, COUNT(*) AS n FROM h GROUP BY source, ch),
    global_h AS (SELECT ch, COUNT(DISTINCT source) AS n_sources FROM h GROUP BY ch)
    SELECT w.source,
           CAST(SUM(w.n) AS BIGINT) AS n_docs,
           CAST(SUM(w.n - 1) AS BIGINT) AS n_within_dups,
           ROUND(CAST(SUM(w.n - 1) AS DOUBLE) / SUM(w.n), 6) AS within_dup_rate,
           CAST(SUM(CASE WHEN g.n_sources > 1 THEN w.n ELSE 0 END) AS BIGINT) AS n_cross_source
    FROM within w JOIN global_h g ON w.ch = g.ch
    GROUP BY w.source
    """,
)
def q222_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    h = docs.select("doc_id", "source", md5_hex(normalize_text(F.col("text"))).alias("ch"))
    within = h.groupBy("source", "ch").agg(F.count(F.lit(1)).alias("n"))
    global_h = h.groupBy("ch").agg(F.countDistinct("source").alias("n_sources"))
    return (
        within.join(global_h, "ch")
        .groupBy("source")
        .agg(
            F.sum("n").cast("bigint").alias("n_docs"),
            F.sum(F.col("n") - 1).cast("bigint").alias("n_within_dups"),
            F.round(F.sum(F.col("n") - 1).cast("double") / F.sum("n"), 6).alias("within_dup_rate"),
            F.sum(F.when(F.col("n_sources") > 1, F.col("n")).otherwise(0)).cast("bigint").alias("n_cross_source"),
        )
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
    oracle="""
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
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / MAX(n), 6) AS mean_before,
           ROUND(CAST(SUM(CAST(wv AS DECIMAL(18,4))) AS DOUBLE) / MAX(n), 6) AS mean_after
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

    def at(q: float) -> F.Column:
        return F.max(
            F.when(F.col("rn") == F.ceil(F.lit(q) * F.col("n")).cast("bigint"), F.col("value"))
        )

    qf = r.groupBy("event_type").agg(F.max("n").alias("n"), at(0.01).alias("p1"), at(0.99).alias("p99"))
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
        F.round(F.sum(F.col("value").cast("decimal(18,4)")).cast("double") / F.max("n"), 6).alias("mean_before"),
        F.round(F.sum(F.col("wv").cast("decimal(18,4)")).cast("double") / F.max("n"), 6).alias("mean_after"),
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
    oracle="""
    WITH base AS (
      SELECT p.p_brand AS brand,
             CAST(floor(floor(epoch(o.o_orderdate)) / 604800) AS BIGINT) AS wk,
             CAST(l.l_extendedprice AS DECIMAL(18,4))
               * (CAST(1 AS DECIMAL(18,4)) - CAST(l.l_discount AS DECIMAL(18,4))) AS rev
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
    dec = lambda c: F.col(c).cast("decimal(18,4)")  # noqa: E731
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
            (dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - dec("l_discount"))).alias("rev"),
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
# q225 — activity punch card (DOW x hour intensity matrix; epoch
# arithmetic only — day-of-week = (epoch_day + 4) % 7 with 0=Sunday,
# anchored at 1970-01-01 being a Thursday — never a session-tz
# dayofweek()): counts and exact-decimal value sums per cell. One
# groupBy; 168 output rows at any scale.
# ---------------------------------------------------------------------------
@register(
    "q225_punchcard",
    oracle="""
    SELECT CAST((CAST(floor(epoch(ts)) AS BIGINT) // 86400 + 4) % 7 AS INT) AS dow,
           CAST((CAST(floor(epoch(ts)) AS BIGINT) % 86400) // 3600 AS INT) AS hour,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_value
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
            F.round(F.sum(F.col("value").cast("decimal(18,4)")).cast("double"), 2).alias("sum_value"),
        )
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
    oracle="""
    WITH per_part AS (
      SELECT l_partkey,
             SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                 * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS rev
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
    dec = lambda c: F.col(c).cast("decimal(18,4)")  # noqa: E731
    per_part = li.groupBy("l_partkey").agg(
        F.sum(dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - dec("l_discount"))).alias("rev")
    )
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
# q228 — basket-size distribution (merchandising staple): lines per
# order bucketed (1,2,3-4,5-8,9+), with order counts and the
# exact-decimal average order value per bucket. Two key-partitioned
# aggregates (order rollup, then bucket rollup).
# ---------------------------------------------------------------------------
@register(
    "q228_basket_sizes",
    oracle="""
    WITH per_order AS (
      SELECT l_orderkey, COUNT(*) AS n_lines,
             SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS gross
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
        F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).alias("gross"),
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
# q229 — cross-source near-duplication matrix (who copies whom; the
# pairwise drill-down of q222): q32's LSH candidate pairs joined to
# their documents' sources, canonicalized (least/greatest) and counted
# per source pair — exact-hash dups never cross sources in this corpus,
# so the matrix is built on the NEAR-dup candidate graph, which does.
# Reuses the banding machinery: one bucket shuffle + two id-keyed
# source joins.
# ---------------------------------------------------------------------------
@register(
    "q229_source_overlap",
    oracle=f"""
    {LSH_PAIRS_CTE},
    src AS (SELECT doc_id, source FROM documents)
    SELECT least(sa.source, sb.source) AS source_a,
           greatest(sa.source, sb.source) AS source_b,
           CAST(COUNT(*) AS BIGINT) AS n_neardup_pairs
    FROM pairs JOIN src sa ON pairs.id_a = sa.doc_id
               JOIN src sb ON pairs.id_b = sb.doc_id
    WHERE sa.source != sb.source
    GROUP BY source_a, source_b
    """,
)
def q229_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dedup as D
    from .dedup import lsh_pairs

    docs = load_table(spark, sf_dir, "documents")
    sh = D.doc_shingles(docs, "doc_id", "text", n=3)
    pairs = lsh_pairs(sh)
    sa = docs.select(F.col("doc_id").alias("id_a"), F.col("source").alias("sa"))
    sb = docs.select(F.col("doc_id").alias("id_b"), F.col("source").alias("sb"))
    return (
        pairs.join(F.broadcast(sa), "id_a")
        .join(F.broadcast(sb), "id_b")
        .filter(F.col("sa") != F.col("sb"))
        .groupBy(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_neardup_pairs"))
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


# ---------------------------------------------------------------------------
# q231 — language-ID confusion matrix + precision/recall (the
# classifier-eval readout for q41's stopword-ratio detector against the
# labeled `lang` column): per (actual collapsed to en/other, predicted)
# cell counts and shares, plus the binary precision/recall/F1 for 'en'
# riding on every row (1-row stats broadcast). EXACTLY q41's decision
# rule — threshold and stopword list included.
# ---------------------------------------------------------------------------
@register(
    "q231_langid_confusion",
    oracle=f"""
    WITH t AS (SELECT lang, {TOKS_SQL} AS tk FROM documents),
    lab AS (
      SELECT CASE WHEN lang = 'en' THEN 'en' ELSE 'other' END AS actual,
             CASE WHEN CAST(len(list_filter(tk, x -> list_contains({STOP_SQL}, x))) AS DOUBLE)
                       / CAST(len(tk) AS DOUBLE) > 0.02 THEN 'en' ELSE 'other' END AS predicted
      FROM t),
    cells AS (SELECT actual, predicted, COUNT(*) AS n FROM lab GROUP BY actual, predicted),
    s AS (
      SELECT SUM(n) AS total,
             SUM(CASE WHEN actual = 'en' AND predicted = 'en' THEN n ELSE 0 END) AS tp,
             SUM(CASE WHEN actual != 'en' AND predicted = 'en' THEN n ELSE 0 END) AS fp,
             SUM(CASE WHEN actual = 'en' AND predicted != 'en' THEN n ELSE 0 END) AS fn
      FROM cells)
    SELECT actual, predicted, CAST(n AS BIGINT) AS n,
           ROUND(CAST(n AS DOUBLE) / s.total, 6) AS share,
           ROUND(CAST(s.tp AS DOUBLE) / (s.tp + s.fp), 6) AS precision_en,
           ROUND(CAST(s.tp AS DOUBLE) / (s.tp + s.fn), 6) AS recall_en,
           ROUND(2 * (CAST(s.tp AS DOUBLE) / (s.tp + s.fp)) * (CAST(s.tp AS DOUBLE) / (s.tp + s.fn))
                 / ((CAST(s.tp AS DOUBLE) / (s.tp + s.fp)) + (CAST(s.tp AS DOUBLE) / (s.tp + s.fn))), 6) AS f1_en
    FROM cells CROSS JOIN s
    """,
)
def q231_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("lang", tokens("text").alias("tk"))
    nstop = F.size(F.filter(F.col("tk"), lambda t: t.isin(*STOPWORDS)))
    ratio = nstop.cast("double") / F.size("tk").cast("double")
    lab = docs.select(
        F.when(F.col("lang") == "en", "en").otherwise("other").alias("actual"),
        F.when(ratio > 0.02, F.lit("en")).otherwise(F.lit("other")).alias("predicted"),
    )
    cells = lab.groupBy("actual", "predicted").agg(F.count(F.lit(1)).alias("n"))
    stats = cells.groupBy().agg(
        F.sum("n").alias("total"),
        F.sum(F.when((F.col("actual") == "en") & (F.col("predicted") == "en"), F.col("n")).otherwise(0)).alias("tp"),
        F.sum(F.when((F.col("actual") != "en") & (F.col("predicted") == "en"), F.col("n")).otherwise(0)).alias("fp"),
        F.sum(F.when((F.col("actual") == "en") & (F.col("predicted") != "en"), F.col("n")).otherwise(0)).alias("fn"),
    )
    prec = F.col("tp").cast("double") / (F.col("tp") + F.col("fp"))
    rec = F.col("tp").cast("double") / (F.col("tp") + F.col("fn"))
    return cells.crossJoin(F.broadcast(stats)).select(
        "actual",
        "predicted",
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("n").cast("double") / F.col("total"), 6).alias("share"),
        F.round(prec, 6).alias("precision_en"),
        F.round(rec, 6).alias("recall_en"),
        F.round(2 * prec * rec / (prec + rec), 6).alias("f1_en"),
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
    from .analytics_ext import q75_item_item_similarity

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
# q233 — near-dup cluster size histogram (the shape-of-duplication
# readout over q78's connected components): cluster sizes (singletons
# excluded — they never entered a pair) bucketed, with member totals.
# The recursive-CTE oracle mirrors the iterative min-label clusters.
# ---------------------------------------------------------------------------
@register(
    "q233_cluster_size_histogram",
    oracle=f"""
    {COMPONENTS_CTE},
    comp AS (
      SELECT node, {CLUSTER_ID_SQL} AS cluster_id
      FROM reach GROUP BY node),
    sizes AS (SELECT cluster_id, COUNT(*) AS size FROM comp GROUP BY cluster_id)
    SELECT CAST(size AS BIGINT) AS size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(COUNT(*) * size AS BIGINT) AS n_members
    FROM sizes GROUP BY size
    """,
)
def q233_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import lsh_clusters

    clusters = lsh_clusters(load_table(spark, sf_dir, "documents"))
    sizes = clusters.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("size"))
    return sizes.groupBy("size").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
        (F.count(F.lit(1)) * F.col("size")).cast("bigint").alias("n_members"),
    ).select(F.col("size").cast("bigint").alias("size"), "n_clusters", "n_members")


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
             CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS x
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
        .agg(F.sum(F.col("value").cast("decimal(18,4)")).alias("x_dec"))
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
# q241 — 2D skyline (Pareto-front) query: parts not dominated on
# (minimize p_retailprice, maximize p_size). The engine uses the
# sort-based formulation — per-price max size, then a running max over
# strictly-cheaper prices; a part is skyline iff it is its price
# group's max AND beats every cheaper group's max. One narrow scan, one
# small per-price aggregate, no pairwise join. The oracle is the
# INDEPENDENT textbook NOT EXISTS dominance anti-join (O(n²) but exact)
# — two different algorithms must agree row-for-row. Ties (equal price
# AND equal size) are mutually non-dominating and both survive.
# ---------------------------------------------------------------------------
@register(
    "q241_skyline",
    oracle="""
    SELECT p_partkey, ROUND(CAST(p_retailprice AS DOUBLE), 2) AS price,
           CAST(p_size AS INT) AS p_size
    FROM part p1
    WHERE NOT EXISTS (
      SELECT 1 FROM part p2
      WHERE p2.p_retailprice <= p1.p_retailprice AND p2.p_size >= p1.p_size
        AND (p2.p_retailprice < p1.p_retailprice OR p2.p_size > p1.p_size))
    ORDER BY p_partkey
    """,
)
def q241_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_retailprice", "p_size")
    per_price = part.groupBy("p_retailprice").agg(F.max("p_size").alias("ms"))
    w = Window.orderBy("p_retailprice").rowsBetween(Window.unboundedPreceding, -1)
    # per-price groups are FAR fewer than parts; the global window runs
    # over that small aggregate only (same discipline as q197/q202)
    run = per_price.withColumn("prev_max", F.max("ms").over(w))
    sky = (
        part.join(F.broadcast(run), "p_retailprice")
        .filter(
            (F.col("p_size") == F.col("ms"))
            & (F.col("prev_max").isNull() | (F.col("p_size") > F.col("prev_max")))
        )
        .select(
            "p_partkey",
            F.round(F.col("p_retailprice").cast("double"), 2).alias("price"),
            F.col("p_size").cast("int").alias("p_size"),
        )
        .orderBy("p_partkey")
    )
    return sky


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
    oracle="""
    WITH daily AS (
      SELECT event_type,
             CAST(epoch(date_trunc('day', ts)) // 86400 AS BIGINT) AS d,
             CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS x
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
        .agg(F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("x"))
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
# q248 — k-anonymity audit (privacy/governance family): group rows by
# quasi-identifiers (nation, market segment, account-balance decile) and
# report, per equivalence-class size band, how many classes and rows sit
# below the k=5 re-identification floor. The decile uses the exact
# global rank (q120's convention — bit-stable deciles for the oracle);
# at 100 TB swap in q160's rank-bounded approx percentile cutpoints,
# which changes only the decile boundaries, not the audit shape.
# ---------------------------------------------------------------------------
@register(
    "q248_k_anonymity",
    oracle="""
    WITH r AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(ceil(10.0 * ROW_NUMBER() OVER (ORDER BY c_acctbal, c_custkey)
                  / COUNT(*) OVER ()) AS INT) AS bal_decile
      FROM customer),
    classes AS (
      SELECT c_nationkey, c_mktsegment, bal_decile, COUNT(*) AS class_size
      FROM r GROUP BY c_nationkey, c_mktsegment, bal_decile)
    SELECT class_size < 5 AS below_k,
           CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(SUM(class_size) AS BIGINT) AS n_rows,
           CAST(MIN(class_size) AS BIGINT) AS min_class,
           CAST(MAX(class_size) AS BIGINT) AS max_class
    FROM classes GROUP BY below_k ORDER BY below_k
    """,
)
def q248_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    w = Window.orderBy("c_acctbal", "c_custkey")
    r = cust.select(
        "c_nationkey", "c_mktsegment",
        F.ceil(
            F.lit(10.0) * F.row_number().over(w)
            / F.count(F.lit(1)).over(Window.partitionBy())
        ).cast("int").alias("bal_decile"),
    )
    classes = r.groupBy("c_nationkey", "c_mktsegment", "bal_decile").agg(
        F.count(F.lit(1)).alias("class_size")
    )
    return (
        classes.groupBy((F.col("class_size") < 5).alias("below_k"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_classes"),
            F.sum("class_size").cast("bigint").alias("n_rows"),
            F.min("class_size").cast("bigint").alias("min_class"),
            F.max("class_size").cast("bigint").alias("max_class"),
        )
        .orderBy("below_k")
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
             CAST(o_totalprice AS DECIMAL(18,4)) AS price
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
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS point_mean
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
        F.col("o_totalprice").cast("decimal(18,4)").alias("price"),
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
        (
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double")
            / F.count(F.lit(1))
        ).alias("point_mean")
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
# q270 — exact triangle count + global clustering coefficient over the
# co-purchase graph (the graph-stats companion to q126 PageRank / q215
# link prediction). Algorithm: DEGREE-ORDERED EDGE ORIENTATION (the
# standard scalable MapReduce formulation, Suri & Vassilvitskii "Counting
# Triangles and the Curse of the Last Reducer", WWW'11): orient every
# undirected edge from its lower-(deg, id) endpoint to the higher one —
# every out-neighborhood then has size O(sqrt(m)), so the wedge join
# E(u,v) ⋈ E(u,w) generates Σ outdeg(u)² = O(m^1.5) candidates
# REGARDLESS of hub skew (the unoriented wedge count Σ deg² is unbounded
# under power laws — the "last reducer" this kills). A semi-join of
# wedges against oriented edges closes triangles exactly once each.
#
# All counts are exact integers; the clustering coefficient
# 3·triangles / wedges(unoriented) rounds once at the end.
# ---------------------------------------------------------------------------
_TRI_MIN_SUP = 2


@register(
    "q270_triangle_count",
    oracle=f"""
    WITH {BASKETS_CTE},
    rawpairs AS (
      SELECT p1.part AS a, p2.part AS b
      FROM baskets, UNNEST(parts) AS p1(part), UNNEST(parts) AS p2(part)
      WHERE p1.part < p2.part),
    edges AS (SELECT a, b FROM rawpairs GROUP BY a, b
              HAVING COUNT(*) >= {_TRI_MIN_SUP}),
    deg AS (SELECT node, COUNT(*) AS d FROM (
              SELECT a AS node FROM edges UNION ALL SELECT b FROM edges)
            GROUP BY node),
    orient AS (
      SELECT CASE WHEN (da.d, e.a) < (db.d, e.b) THEN e.a ELSE e.b END AS src,
             CASE WHEN (da.d, e.a) < (db.d, e.b) THEN e.b ELSE e.a END AS dst,
             CASE WHEN (da.d, e.a) < (db.d, e.b) THEN db.d ELSE da.d END AS dstd
      FROM edges e JOIN deg da ON e.a = da.node JOIN deg db ON e.b = db.node),
    wedges AS (
      SELECT o1.dst AS v, o2.dst AS w
      FROM orient o1 JOIN orient o2 ON o1.src = o2.src
      WHERE (o1.dstd, o1.dst) < (o2.dstd, o2.dst)),
    tri AS (SELECT COUNT(*) AS t FROM wedges w
            WHERE EXISTS (SELECT 1 FROM orient o
                          WHERE o.src = w.v AND o.dst = w.w)),
    stats AS (
      SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
             (SELECT COUNT(*) FROM edges) AS n_edges,
             (SELECT SUM(d * (d - 1) // 2) FROM deg) AS n_wedges,
             (SELECT t FROM tri) AS n_triangles)
    SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
           CAST(n_edges AS BIGINT) AS n_edges,
           CAST(n_wedges AS BIGINT) AS n_wedges,
           CAST(n_triangles AS BIGINT) AS n_triangles,
           ROUND(3.0 * n_triangles / n_wedges, 6) AS global_cc
    FROM stats
    """,
)
def q270_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    baskets = lineitem_baskets(spark, sf_dir)
    pair_expr = F.expr(
        "flatten(transform(parts, a -> transform(filter(parts, b -> b > a),"
        " b -> struct(a AS a, b AS b))))"
    )
    # materialize the (small) edge set once: FIVE downstream branches
    # (deg ×2, orientation, wedge legs ×2, the closing semi-join, the
    # edge-count stat) would each replay the basket explode + pair agg,
    # exploding the physical plan (46 exchanges measured un-materialized
    # vs 7 after; the q237/q106 localCheckpoint pattern).
    edges = (
        baskets.select(F.explode(pair_expr).alias("p"))
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= _TRI_MIN_SUP)
        .drop("c")
        .localCheckpoint(eager=True)
    )
    deg = (
        edges.select(F.col("a").alias("node"))
        .unionAll(edges.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # orient low-(deg, id) -> high-(deg, id); carry dst's degree so the
    # wedge join can order its two legs without another deg lookup
    da, db = deg.alias("da"), deg.alias("db")
    e = (
        edges.join(da, F.col("a") == F.col("da.node"))
        .join(db, F.col("b") == F.col("db.node"))
        .select(
            "a", "b",
            F.col("da.d").alias("ad"), F.col("db.d").alias("bd"),
        )
    )
    fwd = (F.col("ad") < F.col("bd")) | (
        (F.col("ad") == F.col("bd")) & (F.col("a") < F.col("b"))
    )
    # three consumers (both wedge legs + the closing semi-join)
    orient = e.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.when(fwd, F.col("bd")).otherwise(F.col("ad")).alias("dstd"),
    ).localCheckpoint(eager=True)
    o1, o2 = orient.alias("o1"), orient.alias("o2")
    wedges = o1.join(o2, F.col("o1.src") == F.col("o2.src")).filter(
        (F.col("o1.dstd") < F.col("o2.dstd"))
        | (
            (F.col("o1.dstd") == F.col("o2.dstd"))
            & (F.col("o1.dst") < F.col("o2.dst"))
        )
    ).select(F.col("o1.dst").alias("v"), F.col("o2.dst").alias("w"))
    closed = wedges.join(
        orient.select(F.col("src").alias("v"), F.col("dst").alias("w")),
        ["v", "w"],
        "leftsemi",
    )
    tri = closed.agg(F.count(F.lit(1)).alias("t"))
    stats = (
        deg.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.sum(F.expr("d * (d - 1) div 2")).cast("bigint").alias("n_wedges"),
        )
        .crossJoin(F.broadcast(edges.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))))
        .crossJoin(F.broadcast(tri))
    )
    return stats.select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        F.col("t").cast("bigint").alias("n_triangles"),
        F.round(F.lit(3.0) * F.col("t") / F.col("n_wedges"), 6).alias("global_cc"),
    )


# ---------------------------------------------------------------------------
# q273 — CCNet-style perplexity bucketing (Wenzek et al. 2020): per
# language, documents split into head / middle / tail TERCILES by LM
# perplexity — the standard quality stratification a multilingual corpus
# pipeline applies before mixing (head = lowest perplexity = cleanest).
# Perplexity is q184's add-one-smoothed bigram LM (same decimal-summed
# lp discipline); thresholds are RANK-EXACT terciles — rank within
# (lang) by (rounded ppl, doc_id), head = rank <= ceil(n/3), middle <=
# ceil(2n/3) — integer arithmetic on both engines, no percentile-
# function semantics to reconcile. Reports per (lang, bucket) counts and
# the bucket's perplexity range.
#
# Shape (100 TB): the bigram/count joins are q184's (key-partitioned,
# vocab 1-row broadcast); the tercile window shuffles once on lang (a
# handful of partitions at any scale — if a lang is a hot partition,
# rank via two-pass histogram instead; documented trade-off).
# ---------------------------------------------------------------------------
@register(
    "q273_ccnet_ppl_buckets",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, {TOKS_SQL} AS tk FROM documents),
    bg AS (
      SELECT doc_id, tk[i] AS a, tk[i+1] AS b
      FROM t, UNNEST(range(1, greatest(len(tk) - 1, 0) + 1)) AS u(i)
      WHERE len(tk) >= 2),
    c2 AS (SELECT a, b, COUNT(*) AS n2 FROM bg GROUP BY a, b),
    c1 AS (SELECT a, COUNT(*) AS n1 FROM bg GROUP BY a),
    v AS (SELECT COUNT(DISTINCT u.t) AS vocab FROM t, UNNEST(tk) AS u(t)),
    terms AS (
      SELECT bg.doc_id,
             CAST(ROUND(ln((CAST(c2.n2 AS DOUBLE) + 1.0) / (CAST(c1.n1 AS DOUBLE) + v.vocab)), 12)
                  AS DECIMAL(20,12)) AS lp
      FROM bg JOIN c2 ON bg.a = c2.a AND bg.b = c2.b
              JOIN c1 ON bg.a = c1.a
              CROSS JOIN v),
    ppl AS (
      SELECT doc_id, ROUND(exp(-(CAST(SUM(lp) AS DOUBLE) / COUNT(*))), 4) AS p
      FROM terms GROUP BY doc_id),
    r AS (
      SELECT t.lang, ppl.p,
             ROW_NUMBER() OVER (PARTITION BY t.lang ORDER BY ppl.p, ppl.doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY t.lang) AS n
      FROM ppl JOIN t ON ppl.doc_id = t.doc_id),
    b AS (
      SELECT lang, p,
             CASE WHEN rn <= (n + 2) // 3 THEN 'head'
                  WHEN rn <= (2 * n + 2) // 3 THEN 'middle'
                  ELSE 'tail' END AS bucket
      FROM r)
    SELECT lang, bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
           MIN(p) AS min_ppl, MAX(p) AS max_ppl
    FROM b GROUP BY lang, bucket ORDER BY lang, bucket
    """,
)
def q273_ccnet_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", tokens(F.col("text")).alias("tk")
    )
    bg = (
        docs.filter(F.size("tk") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(slice(tk, 1, size(tk) - 1),"
                    " (x, i) -> struct(x AS a, tk[i+1] AS b))"
                )
            ).alias("p"),
        )
        .select("doc_id", F.col("p.a").alias("a"), F.col("p.b").alias("b"))
    )
    c2 = bg.groupBy("a", "b").agg(F.count(F.lit(1)).alias("n2"))
    c1 = bg.groupBy("a").agg(F.count(F.lit(1)).alias("n1"))
    v = docs.select(F.explode("tk").alias("t")).agg(F.countDistinct("t").alias("vocab"))
    terms = (
        bg.join(c2, ["a", "b"])
        .join(c1, "a")
        .crossJoin(F.broadcast(v))
        .select(
            "doc_id",
            F.round(
                F.log(
                    (F.col("n2").cast("double") + 1.0)
                    / (F.col("n1").cast("double") + F.col("vocab"))
                ),
                12,
            )
            .cast("decimal(20,12)")
            .alias("lp"),
        )
    )
    ppl = terms.groupBy("doc_id").agg(
        F.round(
            F.exp(-(F.sum("lp").cast("double") / F.count(F.lit(1)))), 4
        ).alias("p")
    )
    r = (
        ppl.join(docs.select("doc_id", "lang"), "doc_id")
        .withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("lang").orderBy("p", "doc_id")),
        )
        .withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("lang")))
    )
    b = r.select(
        "lang",
        "p",
        F.when(F.expr("rn <= (n + 2) div 3"), F.lit("head"))
        .when(F.expr("rn <= (2 * n + 2) div 3"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )
    return (
        b.groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("p").alias("min_ppl"),
            F.max("p").alias("max_ppl"),
        )
        .orderBy("lang", "bucket")
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
