"""Round-9 catalog extensions, batch 2 — the ES relevance/ML-agg tail
plus two training-data-pipeline operators:

- q389 ``rank_feature`` query (saturation + sigmoid feature scoring),
- q390 ``sparse_vector`` retrieval (ELSER-style learned-sparse scoring
  over a real ``map<string,bigint>`` document vector, with ES's
  ``prune`` option),
- q391 ``change_point`` aggregation (step-change detection per series),
- q392 ``bucket_count_ks_test`` pipeline aggregation (two-sample KS
  over bucket counts),
- q393 ``bucket_correlation`` pipeline aggregation (count-vs-indicator
  Pearson),
- q394 Bradley-Terry pairwise-preference strength fit (the RLHF
  reward-prep analog of q126's fixed-iteration numeric shape),
- q395 distributed BPE merge-candidate counting (the scan+count half of
  byte-pair-encoding vocabulary induction).

Reference context: q389-q393 complete the ES 8.12 DSL the reference
stack ships wholesale (docker-compose.yml:32) even though its client
only calls ``multi_match`` (`/root/reference/src/api.py:197-221`);
q394/q395 extend the LLM-pipeline catalog (preference modeling and
tokenizer induction are the two data-prep stages the catalog did not
yet cover).

Determinism discipline (see catalog.py): feature scores stay in
rational arithmetic (integer features, integer pivots, one IEEE double
division per term — no transcendentals, so no libm divergence);
iterative fits round per-edge contributions to DECIMAL(28,10) before
summing (q126's order-independence discipline); day buckets are epoch
days (``floor(epoch)//86400`` — timezone-free, q130's discipline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import TOKS_SQL, normalize_text, tokens
from ..sources.readers import load_table
from .analytics_ext4 import _tf_col, _tf_sql
from .catalog import register

# ---------------------------------------------------------------------------
# q389 — ES `rank_feature` query: a match clause plus feature-based
# scoring functions over numeric document features — `saturation`
# (x / (x + pivot)) on n_chars and `sigmoid` (x^e / (x^e + pivot^e),
# exponent 2) on token count, each with a boost, summed with the text
# score Lucene-style. The `log` variant is deliberately replaced by the
# exponent-2 sigmoid: ln() is a libm call whose last ulp differs across
# engines, while saturation/sigmoid stay in rational arithmetic
# (integer feature, integer pivot, ONE correctly-rounded IEEE division
# per term) and are therefore bit-identical in Spark and DuckDB.
#
# Shape (100 TB): scan-local — projection + filter inside
# WholeStageCodegen, then TakeOrdered(20). Zero exchanges, the q382
# shape; the feature columns ride in the same scan as the text.
# ---------------------------------------------------------------------------
_RF_TERM = "hash"
_RF_SAT_PIVOT = 250  # n_chars saturation midpoint
_RF_SIG_PIVOT_SQ = 3600  # sigmoid pivot 60 tokens, squared


@register(
    "q389_rank_feature",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             {_tf_sql(_RF_TERM)} AS tf,
             CAST(n_chars AS BIGINT) AS nch,
             CAST(len({TOKS_SQL}) AS BIGINT) AS n
      FROM documents)
    SELECT doc_id,
           ROUND(CAST(tf AS DOUBLE)
                 + 2.0 * (CAST(nch AS DOUBLE) / (nch + {_RF_SAT_PIVOT}))
                 + 1.5 * (CAST(n * n AS DOUBLE) / (n * n + {_RF_SIG_PIVOT_SQ})),
                 6) AS score
    FROM t WHERE tf > 0
    ORDER BY score DESC, doc_id LIMIT 20
    """,
)
def q389_rank_feature(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        _tf_col(_RF_TERM).alias("tf"),
        F.col("n_chars").cast("bigint").alias("nch"),
        F.size(tokens("text")).cast("bigint").alias("n"),
    )
    nsq = F.col("n") * F.col("n")
    score = (
        F.col("tf").cast("double")
        + F.lit(2.0) * (F.col("nch").cast("double") / (F.col("nch") + F.lit(_RF_SAT_PIVOT)))
        + F.lit(1.5) * (nsq.cast("double") / (nsq + F.lit(_RF_SIG_PIVOT_SQ)))
    )
    return (
        t.filter(F.col("tf") > 0)
        .select("doc_id", F.round(score, 6).alias("score"))
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q390 — ES `sparse_vector` query (ELSER-style learned-sparse
# retrieval): each document carries a REAL map<string,bigint> sparse
# vector (term -> weight, here the deterministic surrogate
# tf x len(term) for an expansion model's output); the query is a
# literal sparse vector; the score is the dot product over overlapping
# keys. Also implements ES's `prune` option: `pruned_score` drops
# document entries below a weight threshold before the dot product
# (ES prunes low-significance tokens to cut index size; the audit
# column shows what pruning costs each hit).
#
# The map column is genuine engine plumbing (map_from_entries ->
# element_at / map_filter inside codegen), not a join: ES stores the
# expansion inline with the doc, and so does this plan.
#
# Shape (100 TB): scan-local projection + filter + TakeOrdered(20);
# zero exchanges. The map stays columnar through the scan; at index
# time the same expression is a write-side transform (q122's layout
# discipline).
# ---------------------------------------------------------------------------
_SV_QUERY: dict[str, int] = {"hash": 3, "join": 2, "sort": 2, "merge": 2, "scan": 1}
_SV_PRUNE_MIN = 8  # document-side weight threshold for the pruned score


def _sv_oracle() -> str:
    full = " + ".join(
        f"{w} * ({_tf_sql(t)} * {len(t)})" for t, w in _SV_QUERY.items()
    )
    pruned = " + ".join(
        f"{w} * (CASE WHEN {_tf_sql(t)} * {len(t)} >= {_SV_PRUNE_MIN} "
        f"THEN {_tf_sql(t)} * {len(t)} ELSE 0 END)"
        for t, w in _SV_QUERY.items()
    )
    return f"""
    WITH s AS (
      SELECT doc_id,
             CAST({full} AS BIGINT) AS score,
             CAST({pruned} AS BIGINT) AS pruned_score
      FROM documents)
    SELECT doc_id, score, pruned_score
    FROM s WHERE score > 0
    ORDER BY score DESC, pruned_score DESC, doc_id LIMIT 20
    """


@register("q390_sparse_vector", oracle=_sv_oracle())
def q390_sparse_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # Document-side sparse vector: term -> tf * len(term), a real
    # map<string,bigint> column (map construction / element_at /
    # map_filter plumbing). Two deliberate plan choices, both measured
    # at sf1: (a) the map covers ONLY the query's key set — keys the
    # query never probes cannot change the dot product or the pruned
    # score, and at index time the FULL expansion is a write-side
    # stored column (q122's layout discipline), so this is the
    # query-time read of that map, not a semantic change; (b) term
    # frequencies come from codegen'd regexp_count over the normalized
    # text instead of higher-order token lambdas — HOFs are interpreted
    # per element, and the HOF formulations cost 137 s (full-vocab map)
    # / 25 s (query-key map) at sf1 vs ~3 s for this shape. \\b works
    # because normalized text is [a-z0-9 ]+, so token boundaries are
    # exactly word boundaries. Zero-tf keys are dropped by map_filter,
    # preserving sparse-map semantics.
    entries = ", ".join(
        f"'{t}', CAST(regexp_count(nt, '\\\\b{t}\\\\b') * {len(t)} AS BIGINT)"
        for t in _SV_QUERY
    )
    dv = F.expr(f"map_filter(map({entries}), (k, v) -> v > 0)")
    qmap = ", ".join(f"'{t}', CAST({w} AS BIGINT)" for t, w in _SV_QUERY.items())
    score = F.expr(
        f"aggregate(map_entries(map({qmap})), CAST(0 AS BIGINT), "
        "(acc, e) -> acc + e.value * coalesce(element_at(dv, e.key), CAST(0 AS BIGINT)))"
    )
    pruned = F.expr(
        f"aggregate(map_entries(map({qmap})), CAST(0 AS BIGINT), "
        "(acc, e) -> acc + e.value * coalesce(element_at("
        f"map_filter(dv, (k, v) -> v >= {_SV_PRUNE_MIN}), e.key), CAST(0 AS BIGINT)))"
    )
    # The score>0 filter runs AFTER the top-k, not before: filtered
    # before, Catalyst pushes it below the projections and inlines the
    # whole score expression into an INTERPRETED Filter (re-evaluating
    # normalize+regexp once per aggregate lambda step — measured 16 s
    # at sf1 vs 0.4 s for this order). Post-limit filtering is
    # semantically identical: positive scores sort strictly above the
    # zeros TakeOrdered may admit, so dropping zeros from the top-20
    # equals top-20-of-positives whenever >=20 positives exist, and
    # equals all-positives otherwise — exactly the oracle's result.
    return (
        d.select("doc_id", normalize_text(F.col("text")).alias("nt"))
        .select("doc_id", dv.alias("dv"))
        .select("doc_id", score.alias("score"), pruned.alias("pruned_score"))
        .orderBy(F.col("score").desc(), F.col("pruned_score").desc(), "doc_id")
        .limit(20)
        .filter(F.col("score") > 0)
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


# ---------------------------------------------------------------------------
# q395 — distributed BPE merge-candidate counting: the scan-and-count
# half of byte-pair-encoding vocabulary induction. Word frequencies
# reduce the corpus to a vocabulary frame; each word contributes its
# adjacent character pairs weighted by corpus frequency (per-occurrence
# multiplicity, the BPE objective); the top candidates are the next
# merges. Production BPE iterates exactly this: executors count pair
# frequencies over the (tiny) weighted vocabulary, the driver applies
# the argmax merge to the vocabulary and repeats — the distributed
# step is this query, which is why it is the catalog entry.
#
# Shape (100 TB): one shuffle to reduce the corpus to (word, count) —
# map-combinable, output is vocabulary-sized (<< corpus) — then the
# char-pair explode and second groupBy run on the vocabulary frame
# only. The corpus is scanned once.
# ---------------------------------------------------------------------------
@register(
    "q395_bpe_merge_candidates",
    oracle=f"""
    WITH tc AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT UNNEST({TOKS_SQL}) AS tok FROM documents)
      GROUP BY 1),
    pairs AS (
      SELECT substr(tok, CAST(i AS INTEGER), 1) AS left_sym,
             substr(tok, CAST(i AS INTEGER) + 1, 1) AS right_sym,
             cnt
      FROM tc, UNNEST(generate_series(1, length(tok) - 1)) AS g(i)
      WHERE length(tok) >= 2)
    SELECT left_sym, right_sym, left_sym || right_sym AS merged,
           CAST(SUM(cnt) AS BIGINT) AS freq
    FROM pairs GROUP BY 1, 2
    ORDER BY freq DESC, left_sym, right_sym LIMIT 15
    """,
)
def q395_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        F.explode(tokens("text")).alias("tok")
    )
    tc = d.groupBy("tok").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    pairs = (
        tc.filter(F.length("tok") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, length(tok) - 1), "
                    "i -> struct(substr(tok, i, 1) AS left_sym, "
                    "substr(tok, i + 1, 1) AS right_sym))"
                )
            ).alias("pr"),
            "cnt",
        )
        .select("pr.left_sym", "pr.right_sym", "cnt")
    )
    return (
        pairs.groupBy("left_sym", "right_sym")
        .agg(F.sum("cnt").cast("bigint").alias("freq"))
        .select(
            "left_sym",
            "right_sym",
            F.concat("left_sym", "right_sym").alias("merged"),
            "freq",
        )
        .orderBy(F.col("freq").desc(), "left_sym", "right_sym")
        .limit(15)
    )
