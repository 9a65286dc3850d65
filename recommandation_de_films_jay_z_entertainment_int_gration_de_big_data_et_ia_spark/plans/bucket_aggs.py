"""Elasticsearch bucket aggregations: multi_terms, categorize_text,
auto_date_histogram, range, children, filters, histogram with empty
buckets, reverse_nested, variable_width_histogram, missing/global,
sampler, date_range, ip_range, random_sampler, ip_prefix and parent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import exact_sum, exact_sum_sql
from ..functions.text import TOKS_SQL, md5_hex_int_sql, tokens
from ..sources.readers import load_table
from .catalog import register


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
# q331 — ES `range` aggregation: custom [from, to) buckets over
# o_totalprice with ES's "lo-hi" bucket keys, doc count and exact
# decimal average per bucket. Buckets with no matching docs are
# omitted (ES keyed-response behavior for empty custom ranges differs
# by version; the engine surfaces populated buckets).
#
# Shape (100 TB): scan-local integer bucket assignment + one
# map-combinable shuffle of <= 4 rows per partition.
# ---------------------------------------------------------------------------
_RANGE_BOUNDS = (0, 125_000, 250_000, 375_000)  # last bucket open-ended


def _range_key_sql() -> str:
    cases = []
    for i, lo in enumerate(_RANGE_BOUNDS):
        hi = _RANGE_BOUNDS[i + 1] if i + 1 < len(_RANGE_BOUNDS) else None
        label = f"{lo}-{hi}" if hi is not None else f"{lo}-*"
        cond = (
            f"o_totalprice >= {lo} AND o_totalprice < {hi}"
            if hi is not None
            else f"o_totalprice >= {lo}"
        )
        cases.append(f"WHEN {cond} THEN '{label}'")
    return "CASE " + " ".join(cases) + " END"


@register(
    "q331_range_agg",
    oracle=f"""
    WITH b AS (
      SELECT {_range_key_sql()} AS bucket,
             CAST(o_totalprice AS DECIMAL(18,2)) AS price
      FROM orders)
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS doc_count,
           ROUND(CAST(SUM(price) AS DOUBLE) / COUNT(*), 6) AS avg_price
    FROM b WHERE bucket IS NOT NULL
    GROUP BY bucket ORDER BY bucket
    """,
)
def q331_range_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    key = None
    for i, lo in enumerate(_RANGE_BOUNDS):
        hi = _RANGE_BOUNDS[i + 1] if i + 1 < len(_RANGE_BOUNDS) else None
        label = f"{lo}-{hi}" if hi is not None else f"{lo}-*"
        cond = (
            (F.col("o_totalprice") >= lo) & (F.col("o_totalprice") < hi)
            if hi is not None
            else F.col("o_totalprice") >= lo
        )
        key = F.when(cond, label) if key is None else key.when(cond, label)
    b = o.select(
        key.alias("bucket"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    ).filter(F.col("bucket").isNotNull())
    return (
        b.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("doc_count"),
            F.round(
                F.sum("price").cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_price"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# q333 — ES `children` aggregation: under each parent bucket
# (o_orderpriority), aggregate over the parents' CHILD documents
# (lineitems): child count and exact decimal average extendedprice.
# Completes the parent-child family (q264 has_child, q265 has_parent,
# q266 nested) with the aggregation side.
#
# Shape (100 TB): the parent attribute projects to (orderkey,
# priority) before the join, so the shuffle carries two columns; the
# join is key-partitioned (co-partitioned with the agg that follows —
# AQE plans one exchange per side) and the final agg is 5 rows.
# ---------------------------------------------------------------------------
@register(
    "q333_children_agg",
    oracle="""
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_children,
           ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                 / COUNT(*), 6) AS avg_child_price
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority
    """,
)
def q333_children_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_extendedprice").cast("decimal(18,2)").alias("price")
    )
    j = li.join(o, li.l_orderkey == o.o_orderkey)
    return (
        j.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_children"),
            F.round(
                F.sum("price").cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_child_price"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# q336 — ES `filters` aggregation with `other_bucket`: named,
# independently-evaluated filter buckets (a doc may land in several)
# plus the bucket of docs matching NONE. Filters mix a JSON-extracted
# numeric predicate with keyword predicates — the ES shape where each
# named bucket is an arbitrary query.
#
# Shape (100 TB): ONE pass — every named bucket is a conditional
# accumulator in a single map-combinable aggregate (never one scan
# per filter), unpivoted row-locally from the 1-row result.
# ---------------------------------------------------------------------------
_FLT_BUCKETS = (
    ("big_k", "CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50"),
    ("purchase", "event_type = 'purchase'"),
    ("errors", "event_type = 'error'"),
)


@register(
    "q336_filters_agg",
    oracle=f"""
    WITH t AS (
      SELECT *,
             {_FLT_BUCKETS[0][1]} AS f0,
             {_FLT_BUCKETS[1][1]} AS f1,
             {_FLT_BUCKETS[2][1]} AS f2
      FROM events),
    s AS (
      SELECT CAST(SUM(CASE WHEN f0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
             CAST(SUM(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
             CAST(SUM(CASE WHEN f2 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
             CAST(SUM(CASE WHEN NOT (f0 OR f1 OR f2) THEN 1 ELSE 0 END)
               AS BIGINT) AS c_other
      FROM t)
    SELECT bucket, doc_count FROM (
      SELECT '{_FLT_BUCKETS[0][0]}' AS bucket, c0 AS doc_count FROM s
      UNION ALL SELECT '{_FLT_BUCKETS[1][0]}', c1 FROM s
      UNION ALL SELECT '{_FLT_BUCKETS[2][0]}', c2 FROM s
      UNION ALL SELECT '_other_', c_other FROM s)
    ORDER BY bucket
    """,
)
def q336_filters_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    f0 = F.get_json_object("props", "$.k").cast("bigint") >= 50
    f1 = F.col("event_type") == "purchase"
    f2 = F.col("event_type") == "error"
    t = ev.select(f0.alias("f0"), f1.alias("f1"), f2.alias("f2"))

    def cnt(c: F.Column) -> F.Column:
        return F.sum(F.when(c, 1).otherwise(0)).cast("bigint")

    s = t.agg(
        cnt(F.col("f0")).alias("c0"),
        cnt(F.col("f1")).alias("c1"),
        cnt(F.col("f2")).alias("c2"),
        cnt(~(F.col("f0") | F.col("f1") | F.col("f2"))).alias("c_other"),
    )
    out = s.select(
        F.explode(
            F.array(
                F.struct(F.lit(_FLT_BUCKETS[0][0]).alias("bucket"), F.col("c0").alias("doc_count")),
                F.struct(F.lit(_FLT_BUCKETS[1][0]).alias("bucket"), F.col("c1").alias("doc_count")),
                F.struct(F.lit(_FLT_BUCKETS[2][0]).alias("bucket"), F.col("c2").alias("doc_count")),
                F.struct(F.lit("_other_").alias("bucket"), F.col("c_other").alias("doc_count")),
            )
        ).alias("b")
    ).select("b.*")
    return out.orderBy("bucket")


# ---------------------------------------------------------------------------
# q339 — ES `histogram` aggregation with `min_doc_count: 0`: fixed
# interval-10 buckets over signup events' value, EMITTING EMPTY
# BUCKETS across the populated extent (the grid-fill contract ES
# clients rely on for gap-free charts).
#
# Determinism: bucket assignment is integer-cents arithmetic
# (ROUND(value*100) -> BIGINT // 1000), never float floor-division;
# the grid is an integer sequence between the observed min/max bucket.
#
# Shape (100 TB): one map-combinable shuffle to the (tiny) populated
# bucket set, then the grid explode + join run on the BUCKET frame —
# bounded by the value range, not the event volume.
# ---------------------------------------------------------------------------
_H_INTERVAL = 10  # value units; cents // 1000


@register(
    "q339_histogram_empty_buckets",
    oracle=f"""
    WITH b AS (
      SELECT CAST(round(value * 100) AS BIGINT) // {_H_INTERVAL * 100} AS bk
      FROM events WHERE event_type = 'signup'),
    cnt AS (SELECT bk, CAST(COUNT(*) AS BIGINT) AS c FROM b GROUP BY bk),
    grid AS (
      SELECT UNNEST(range((SELECT MIN(bk) FROM cnt),
                          (SELECT MAX(bk) FROM cnt) + 1)) AS bk)
    SELECT CAST(g.bk * {_H_INTERVAL} AS BIGINT) AS bucket_key,
           COALESCE(c.c, 0) AS doc_count
    FROM grid g LEFT JOIN cnt c ON c.bk = g.bk
    ORDER BY bucket_key
    """,
)
def q339_histogram_empty_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "signup"
    )
    bk = (
        F.round(F.col("value") * 100).cast("bigint") / (_H_INTERVAL * 100)
    ).cast("bigint")  # non-negative values: cast == floor-div
    cnt = ev.select(bk.alias("bk")).groupBy("bk").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    # the grid derives from the SAME tiny aggregated frame (one row
    # after the min/max agg) — no second scan of events
    bounds = cnt.agg(
        F.min("bk").alias("lo"), F.max("bk").alias("hi")
    )
    grid = bounds.select(
        F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("bk")
    )
    return (
        grid.join(cnt, "bk", "left")
        .select(
            (F.col("bk") * _H_INTERVAL).cast("bigint").alias("bucket_key"),
            F.coalesce(F.col("c"), F.lit(0)).cast("bigint").alias("doc_count"),
        )
        .orderBy("bucket_key")
    )


# ---------------------------------------------------------------------------
# q349 — ES `reverse_nested` aggregation: bucket on a NESTED field,
# then hop back up to the parent document level for sub-aggs. Model:
# lineitem rows are the nested docs inside their order; bucket by
# l_returnflag (nested terms agg → nested_hits), reverse_nested →
# count of DISTINCT parent orders per bucket plus a parent-level
# metric (avg o_totalprice of those parents). Completes the hierarchy
# family: q264/q265 (has_child/has_parent queries), q266 (nested
# query), q333 (children agg) — this is the child→parent agg direction.
#
# Determinism: parent average via the exact sum of ``functions.exact``
# then one division + ROUND(.,4).
#
# Shape (100 TB): the distinct (orderkey, flag) pairs collapse ~4x in
# a map-side partial before one shuffle; the orders join is key-co-
# partitioned on orderkey; both per-flag aggregates are 3-row frames
# joined broadcast. No row ever carries the parent payload before the
# distinct collapses the nested side.
# ---------------------------------------------------------------------------
@register(
    "q349_reverse_nested",
    oracle=f"""
    WITH b AS (
      SELECT l_returnflag AS returnflag, CAST(COUNT(*) AS BIGINT) AS nested_hits
      FROM lineitem GROUP BY 1),
    p AS (
      SELECT DISTINCT l_orderkey, l_returnflag FROM lineitem),
    pa AS (
      SELECT p.l_returnflag AS returnflag,
             CAST(COUNT(*) AS BIGINT) AS parent_count,
             ROUND({exact_sum_sql("o.o_totalprice")}
                   / COUNT(*), 4) AS avg_parent_price
      FROM p JOIN orders o ON p.l_orderkey = o.o_orderkey GROUP BY 1)
    SELECT b.returnflag, b.nested_hits, pa.parent_count, pa.avg_parent_price
    FROM b JOIN pa ON b.returnflag = pa.returnflag
    ORDER BY b.returnflag
    """,
)
def q349_reverse_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    nested = li.groupBy(F.col("l_returnflag").alias("returnflag")).agg(
        F.count(F.lit(1)).cast("bigint").alias("nested_hits")
    )
    parents = li.select("l_orderkey", "l_returnflag").distinct()
    parent_agg = (
        parents.join(orders, parents["l_orderkey"] == orders["o_orderkey"])
        .groupBy(F.col("l_returnflag").alias("returnflag"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("parent_count"),
            F.round(exact_sum("o_totalprice") / F.count(F.lit(1)), 4).alias("avg_parent_price"),
        )
    )
    return (
        nested.join(F.broadcast(parent_agg), "returnflag")
        .select("returnflag", "nested_hits", "parent_count", "avg_parent_price")
        .orderBy("returnflag")
    )


# ---------------------------------------------------------------------------
# q350 — ES `variable_width_histogram` aggregation, made deterministic:
# instead of ES's order-dependent online clustering, bucket boundaries
# are the N-1 LARGEST GAPS between consecutive distinct values (the
# classical 1-D max-gap clustering, which is the exact optimum for the
# "minimize within-bucket spread" objective ES approximates). Buckets
# then aggregate min/max/count/avg of the raw rows.
#
# Determinism: the value domain is 2-decimal quantized (events.value),
# so distinct values, gaps, and the (gap DESC, value ASC) boundary
# ranking are exact; avg via DECIMAL(18,2) sum then one divide+round.
#
# Shape (100 TB): the distinct collapse is map-combinable and the gap
# ranking runs over the DISTINCT domain (bounded by the metric's
# quantization, ~1e5 values — the same "domain, not rows" bound ES's
# clustering keys on), so the single-partition gap sort is a tiny
# frame, never the raw rows. Boundaries collapse to ONE array row
# broadcast back onto the raw scan; final agg is map-combinable with
# N=6 groups.
# ---------------------------------------------------------------------------
_VW_BUCKETS = 6


@register(
    "q350_variable_width_histogram",
    oracle=f"""
    WITH vals AS (SELECT DISTINCT value AS v FROM events),
    gaps AS (
      SELECT v, v - lag(v) OVER (ORDER BY v) AS gap FROM vals),
    bnd AS (
      SELECT list(v ORDER BY v) AS bs FROM (
        SELECT v FROM gaps WHERE gap IS NOT NULL
        ORDER BY gap DESC, v ASC LIMIT {_VW_BUCKETS - 1})),
    assigned AS (
      SELECT e.value,
             len(list_filter(b.bs, x -> x <= e.value)) AS bucket
      FROM events e, bnd b)
    SELECT CAST(bucket AS INT) AS bucket,
           MIN(value) AS lo, MAX(value) AS hi,
           CAST(COUNT(*) AS BIGINT) AS doc_count,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                 / COUNT(*), 6) AS avg_value
    FROM assigned GROUP BY bucket ORDER BY bucket
    """,
)
def q350_variable_width_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("value")
    vals = ev.distinct().withColumnRenamed("value", "v")
    w = Window.orderBy("v")
    gaps = vals.select("v", (F.col("v") - F.lag("v").over(w)).alias("gap"))
    bnd = (
        gaps.filter(F.col("gap").isNotNull())
        .orderBy(F.desc("gap"), F.asc("v"))
        .limit(_VW_BUCKETS - 1)
        .agg(F.sort_array(F.collect_list("v")).alias("bs"))
    )
    assigned = ev.crossJoin(F.broadcast(bnd)).select(
        "value",
        F.size(F.filter(F.col("bs"), lambda x: x <= F.col("value")))
        .cast("int")
        .alias("bucket"),
    )
    return (
        assigned.groupBy("bucket")
        .agg(
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
            F.count(F.lit(1)).cast("bigint").alias("doc_count"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_value"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# q351 — ES `missing` + `global` aggregations in one request: the query
# context filters customers (acctbal > 0); inside it a terms agg
# buckets by market segment, a `missing` agg counts query hits lacking
# a field, and a `global` agg escapes the query filter entirely (ES's
# scope-reset bucket). With no NULLs in the fixtures, missingness is
# modeled RELATIONALLY, the way ES join-fields surface it: customers
# with no orders are "missing" their order history.
#
# Shape (100 TB): one left-semi-shaped flag join (distinct custkeys
# collapse map-side first), then ONE pass computes per-segment counts
# WITH the conditional missing count fused in (no per-branch rescan —
# PERF.md #9.3); the missing row re-aggregates the 5-row segment frame,
# and only the `global` row needs its second (column-pruned, count-only)
# scan — exactly the extra pass a real ES global agg costs.
# ---------------------------------------------------------------------------
@register(
    "q351_missing_global_aggs",
    oracle="""
    WITH flagged AS (
      SELECT c.c_mktsegment AS seg, c.c_acctbal,
             (o.o_custkey IS NOT NULL) AS has_orders
      FROM customer c
      LEFT JOIN (SELECT DISTINCT o_custkey FROM orders) o
        ON c.c_custkey = o.o_custkey),
    hits AS (SELECT * FROM flagged WHERE c_acctbal > 0),
    per_seg AS (
      SELECT seg, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COUNT(*) FILTER (WHERE NOT has_orders) AS BIGINT) AS n_missing
      FROM hits GROUP BY seg)
    SELECT 'query' AS scope, seg AS bucket, n AS doc_count FROM per_seg
    UNION ALL
    SELECT 'query_missing', '__missing_orders__', CAST(SUM(n_missing) AS BIGINT)
    FROM per_seg
    UNION ALL
    SELECT 'global', '__all__', CAST(COUNT(*) AS BIGINT) FROM customer
    ORDER BY scope, bucket
    """,
)
def q351_missing_global_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orderers = (
        load_table(spark, sf_dir, "orders").select("o_custkey").distinct()
    )
    flagged = cust.select("c_custkey", "c_mktsegment", "c_acctbal").join(
        orderers.withColumn("has_orders", F.lit(True)),
        cust["c_custkey"] == orderers["o_custkey"],
        "left",
    )
    hits = flagged.filter(F.col("c_acctbal") > 0)
    per_seg = hits.groupBy(F.col("c_mktsegment").alias("seg")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.count_if(F.col("has_orders").isNull()).cast("bigint").alias("n_missing"),
    )
    query_rows = per_seg.select(
        F.lit("query").alias("scope"),
        F.col("seg").alias("bucket"),
        F.col("n").alias("doc_count"),
    )
    missing_row = per_seg.agg(
        F.sum("n_missing").cast("bigint").alias("doc_count")
    ).select(
        F.lit("query_missing").alias("scope"),
        F.lit("__missing_orders__").alias("bucket"),
        "doc_count",
    )
    global_row = cust.agg(
        F.count(F.lit(1)).cast("bigint").alias("doc_count")
    ).select(
        F.lit("global").alias("scope"), F.lit("__all__").alias("bucket"), "doc_count"
    )
    return query_rows.unionByName(missing_row).unionByName(global_row).orderBy(
        "scope", "bucket"
    )


# ---------------------------------------------------------------------------
# q359 — ES `sampler` aggregation: run sub-aggregations over a
# deterministic top-`shard_size` sample of the matching documents
# instead of all of them (ES's cost-capping bucket). The "random"
# sample is the `shard_size` lowest md5(doc_id) values — a fixed,
# coordination-free choice (the md5 order is uniform in doc_id), the
# same trick q345's epoch shuffle uses. Sub-agg: terms by lang,
# reported against the full-corpus counts so the sampling error is
# visible.
#
# Shape (100 TB): the sample cut is one TakeOrdered(shard_size) —
# never a global sort; the sub-agg runs on `shard_size` rows; the
# full-corpus comparison is one map-combinable count keyed by lang
# (|langs| rows, broadcast join).
# ---------------------------------------------------------------------------
_SA_SIZE = 100


@register(
    "q359_sampler_agg",
    oracle=f"""
    WITH sample AS (
      SELECT lang FROM documents
      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT {_SA_SIZE}),
    s AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS sample_count
      FROM sample GROUP BY lang),
    f AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS full_count
      FROM documents GROUP BY lang)
    SELECT f.lang, COALESCE(s.sample_count, 0) AS sample_count, f.full_count,
           ROUND(CAST(COALESCE(s.sample_count, 0) AS DOUBLE) / {_SA_SIZE}, 6)
             AS sample_share,
           ROUND(CAST(f.full_count AS DOUBLE)
                 / (SELECT SUM(full_count) FROM f), 6) AS full_share
    FROM f LEFT JOIN s ON f.lang = s.lang
    ORDER BY f.lang
    """,
)
def q359_sampler_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    sample = (
        docs.orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
        .limit(_SA_SIZE)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("sample_count"))
    )
    full = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("full_count")
    )
    tot = full.agg(F.sum("full_count").cast("double").alias("n_total"))
    return (
        full.join(F.broadcast(sample), "lang", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "lang",
            F.coalesce("sample_count", F.lit(0)).cast("bigint").alias("sample_count"),
            "full_count",
            F.round(
                F.coalesce("sample_count", F.lit(0)).cast("double") / _SA_SIZE, 6
            ).alias("sample_share"),
            F.round(F.col("full_count").cast("double") / F.col("n_total"), 6).alias(
                "full_share"
            ),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# q373 — ES `date_range` aggregation: custom (possibly open-ended)
# date buckets — unlike date_histogram's fixed stride. Four ranges
# over events.ts: before Jan 8, two seven-day windows, and from
# Jan 22 on (ES emits from/to per bucket; keys mirror ES's
# "from-to" naming).
#
# Determinism: bucket edges are timestamp literals; the value sum is
# ROUND->DECIMAL before aggregation (the engine's double-sum rule).
#
# Shape (100 TB): scan-local CASE bucketing + one map-combinable
# 4-group aggregate; the ts range predicate is none (all ranges
# partition the axis), so the scan stays full but single-pass.
# ---------------------------------------------------------------------------


@register(
    "q373_date_range_agg",
    oracle="""
    WITH b AS (
      SELECT CASE
               WHEN ts < TIMESTAMP '2024-01-08' THEN '*-2024-01-08'
               WHEN ts < TIMESTAMP '2024-01-15' THEN '2024-01-08-2024-01-15'
               WHEN ts < TIMESTAMP '2024-01-22' THEN '2024-01-15-2024-01-22'
               ELSE '2024-01-22-*'
             END AS range_key,
             value
      FROM events)
    SELECT range_key,
           CAST(COUNT(*) AS BIGINT) AS doc_count,
           ROUND(CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(18,6)))
                      AS DOUBLE), 4) AS value_sum
    FROM b GROUP BY range_key ORDER BY range_key
    """,
)
def q373_date_range_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("ts", "value")
    # Bucket edges compared in UTC epoch-microseconds (the q44/q118
    # pattern): a `'2024-01-08'::timestamp` literal parses in the
    # SESSION timezone, while events.ts is UTC-anchored and the DuckDB
    # oracle reads naive literals as UTC — string-literal edges would
    # shift the buckets by the session offset on any non-UTC driver.
    tu = F.unix_micros("ts")
    _e08 = 1704672000 * 1_000_000  # 2024-01-08T00:00:00Z
    _e15 = 1705276800 * 1_000_000  # 2024-01-15T00:00:00Z
    _e22 = 1705881600 * 1_000_000  # 2024-01-22T00:00:00Z
    key = (
        F.when(tu < F.lit(_e08), "*-2024-01-08")
        .when(tu < F.lit(_e15), "2024-01-08-2024-01-15")
        .when(tu < F.lit(_e22), "2024-01-15-2024-01-22")
        .otherwise("2024-01-22-*")
    )
    return (
        ev.select(key.alias("range_key"), "value")
        .groupBy("range_key")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("doc_count"),
            F.round(
                F.sum(F.round(F.col("value"), 6).cast("decimal(18,6)")).cast(
                    "double"
                ),
                4,
            ).alias("value_sum"),
        )
        .orderBy("range_key")
    )


# ---------------------------------------------------------------------------
# q379 — ES `ip_range` aggregation: bucket documents by IP ranges.
# The corpus has no IP column, so (like the q235/q310 geo lattice) a
# deterministic synthetic fixture maps each event's user_id to an IPv4
# via a Knuth multiplicative hash — the bucketing arithmetic, which is
# what the aggregation IS, runs on the real table. Four quarter-space
# ranges keyed ES-style (from-to dotted quads); per bucket the event
# count and distinct-user cardinality.
#
# Determinism: pure integer hash/modulo; no floats anywhere.
#
# Shape (100 TB): scan-local key derivation + one 4-group aggregate
# with a distinct-count (two-phase, keyed by the 4 buckets after the
# map-side partial dedup).
# ---------------------------------------------------------------------------
_IP_MUL = 2654435761  # Knuth 2^32 * golden ratio


@register(
    "q379_ip_range_agg",
    oracle=f"""
    WITH ips AS (
      SELECT user_id, (user_id * {_IP_MUL}) % 4294967296 AS ipn
      FROM events),
    b AS (
      SELECT user_id,
             CASE (ipn // 1073741824)
               WHEN 0 THEN '0.0.0.0-63.255.255.255'
               WHEN 1 THEN '64.0.0.0-127.255.255.255'
               WHEN 2 THEN '128.0.0.0-191.255.255.255'
               ELSE '192.0.0.0-255.255.255.255'
             END AS ip_range
      FROM ips)
    SELECT ip_range,
           CAST(COUNT(*) AS BIGINT) AS doc_count,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM b GROUP BY ip_range ORDER BY ip_range
    """,
)
def q379_ip_range_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id")
    quarter = F.expr(f"(((user_id * {_IP_MUL}) % 4294967296) DIV 1073741824)")
    key = (
        F.when(quarter == 0, "0.0.0.0-63.255.255.255")
        .when(quarter == 1, "64.0.0.0-127.255.255.255")
        .when(quarter == 2, "128.0.0.0-191.255.255.255")
        .otherwise("192.0.0.0-255.255.255.255")
    )
    return (
        ev.select("user_id", key.alias("ip_range"))
        .groupBy("ip_range")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("doc_count"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
        .orderBy("ip_range")
    )


# ---------------------------------------------------------------------------
# q386 — ES `random_sampler` aggregation (8.2+): run sub-aggs over a
# PROBABILISTIC per-document sample (probability p) instead of q359's
# deterministic top-shard_size cut. The draw is a seeded hash: include
# a doc when the 16-bit md5 integer of 'rs1:'||doc_id falls below
# p * 65536 — coordination-free, reproducible, and identical on both
# engines (the q178/q190 md5-16bit idiom). ES scales sub-agg counts by
# 1/p; est_total does the same (65536/6554 exact in doubles).
#
# Shape (100 TB): the sample predicate is scan-local (no sort, unlike
# q359's TakeOrdered), so this is the variant that actually scales to
# arbitrary corpus sizes: one map-combinable groupBy on the ~p fraction.
# ---------------------------------------------------------------------------
_RS_SEED = "rs1:"
_RS_CUT = 6554  # ~0.1 * 65536 — effective sampling probability


def _rs_draw_sql() -> str:
    key = f"'{_RS_SEED}' || CAST(doc_id AS VARCHAR)"
    return f"({md5_hex_int_sql(key, 4)} < {_RS_CUT})"


@register(
    "q386_random_sampler_agg",
    oracle=f"""
    WITH s AS (
      SELECT source FROM documents WHERE {_rs_draw_sql()})
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS sample_count,
           ROUND(CAST(COUNT(*) AS DOUBLE) * 65536.0 / {_RS_CUT}, 4)
             AS est_total
    FROM s GROUP BY source ORDER BY source
    """,
)
def q386_random_sampler_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    draw = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(_RS_SEED), F.col("doc_id").cast("string"))),
                1,
                4,
            ),
            16,
            10,
        ).cast("long")
        < _RS_CUT
    )
    return (
        docs.filter(draw)
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("sample_count"))
        .select(
            "source",
            "sample_count",
            F.round(
                F.col("sample_count").cast("double") * 65536.0 / _RS_CUT, 4
            ).alias("est_total"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q387 — ES `ip_prefix` aggregation: bucket synthetic IPv4 addresses by
# their /8 network prefix — the sibling of the shipped q379 ip_range
# (same Knuth-hash address derivation, prefix masks instead of range
# edges). Surfaces the prefix in ES's "a.0.0.0/8" notation with
# doc_count and distinct users per prefix.
#
# Shape (100 TB): one map-combinable groupBy on a derived integer key
# (<= 256 buckets); countDistinct adds the standard two-phase expand.
# ---------------------------------------------------------------------------
_IPP_MUL = 2654435761  # Knuth 2^32 golden-ratio hash (q379's constant)


@register(
    "q387_ip_prefix_agg",
    oracle=f"""
    WITH b AS (
      SELECT user_id,
             ((user_id * {_IPP_MUL}) % 4294967296) // 16777216 AS octet
      FROM events)
    SELECT CAST(octet AS VARCHAR) || '.0.0.0/8' AS ip_prefix,
           CAST(COUNT(*) AS BIGINT) AS doc_count,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM b GROUP BY octet ORDER BY octet
    """,
)
def q387_ip_prefix_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id")
    octet = F.expr(
        f"(((user_id * {_IPP_MUL}) % 4294967296) DIV 16777216)"
    )
    b = ev.select("user_id", octet.alias("octet"))
    return (
        b.groupBy("octet")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("doc_count"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
        .select(
            F.concat(F.col("octet").cast("string"), F.lit(".0.0.0/8")).alias(
                "ip_prefix"
            ),
            "doc_count",
            "n_users",
        )
        .orderBy("octet")
    )


# ---------------------------------------------------------------------------
# q400 — ES `parent` aggregation: in a child-document context (lineitem
# rows bucketed by l_linestatus), the `parent` agg bridges each bucket
# to the set of PARENT docs (orders) that have at least one child in
# the bucket, then runs parent-side sub-aggs: here a `terms` sub-bucket
# on o_orderstatus carrying the parent doc_count and an exact-decimal
# average of o_totalprice. The outer bucket's own child doc_count
# (n_children) is kept on every row, matching ES's response layout
# (child bucket -> parent agg -> parent terms buckets).
#
# vs q349 (`reverse_nested`): same child->parent direction, but q349
# models the NESTED layout (child rows physically inside the parent
# doc) while `parent` works across the join-field layout (separate
# child docs that name their parent) and demonstrates a full parent-
# side TERMS sub-aggregation, not just parent metrics.
#
# Shape (100 TB): the child->parent hop is a DISTINCT on two narrow
# columns (orderkey, linestatus — collapses ~#statuses-per-order
# map-side before one shuffle); the orders join is key-partitioned on
# orderkey; both the parent terms agg and the child doc_count agg
# collapse to <=#statuses^2 rows, joined broadcast. No row ever
# carries a wide payload across a shuffle.
# ---------------------------------------------------------------------------
@register(
    "q400_parent_agg",
    oracle=f"""
    WITH ch AS (
      SELECT l_linestatus AS linestatus, CAST(COUNT(*) AS BIGINT) AS n_children
      FROM lineitem GROUP BY 1),
    p AS (
      SELECT DISTINCT l_orderkey, l_linestatus FROM lineitem),
    pa AS (
      SELECT p.l_linestatus AS linestatus, o.o_orderstatus AS orderstatus,
             CAST(COUNT(*) AS BIGINT) AS parent_count,
             ROUND({exact_sum_sql("o.o_totalprice")}
                   / COUNT(*), 4) AS avg_parent_price
      FROM p JOIN orders o ON p.l_orderkey = o.o_orderkey
      GROUP BY 1, 2)
    SELECT pa.linestatus, ch.n_children, pa.orderstatus,
           pa.parent_count, pa.avg_parent_price
    FROM pa JOIN ch ON pa.linestatus = ch.linestatus
    ORDER BY pa.linestatus, pa.orderstatus
    """,
)
def q400_parent_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_linestatus").alias("linestatus")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    child_counts = li.groupBy("linestatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_children")
    )
    parents = li.distinct()
    parent_terms = (
        parents.join(orders, parents["l_orderkey"] == orders["o_orderkey"])
        .groupBy("linestatus", F.col("o_orderstatus").alias("orderstatus"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("parent_count"),
            F.round(exact_sum("o_totalprice") / F.count(F.lit(1)), 4).alias("avg_parent_price"),
        )
    )
    return (
        parent_terms.join(F.broadcast(child_counts), "linestatus")
        .select(
            "linestatus", "n_children", "orderstatus",
            "parent_count", "avg_parent_price",
        )
        .orderBy("linestatus", "orderstatus")
    )
