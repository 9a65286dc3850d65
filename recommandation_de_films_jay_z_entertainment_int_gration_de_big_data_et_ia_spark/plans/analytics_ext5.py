"""Round-8 catalog extensions — the remaining ES aggregation surface
flagged by the round-7 review (`top_hits`, `scripted_metric`,
`geo_shape` polygon containment, `reverse_nested`) plus further
LLM-pipeline operators.

Reference context: the reference delegates all querying to the full ES
stack (docker-compose.yml:32); these are core ES constructs any user of
that stack can issue, re-expressed as native DataFrame plans. The
reference API's own hit lists are size-bounded per query
(src/api.py:93,149) — `top_hits` is the aggregation-side version of
exactly that shape.

Determinism discipline (see catalog.py): integer arithmetic generated
as literals for geometry (no engine float builtins), per-bucket folds
over explicitly sorted lists (F.aggregate ↔ list_reduce after
list_prepend-ed init), exact DECIMAL sums before any average, ROUND at
the surface only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import TOKS_SQL, md5_hex_int_sql, tokens
from ..operators.relational import scripted_metric, top_hits
from ..sources.readers import load_table
from .catalog import register

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
# q348 — ES `geo_shape` query, polygon containment: which points fall
# inside a (non-convex) polygon, counted per nation. Ray-cast with the
# half-open crossing rule, done ENTIRELY in integer arithmetic on the
# 0..999 lattice (points derive from c_custkey exactly like q340's
# geohash lattice): for edge (x1,y1)->(x2,y2) a rightward ray from
# (px,py) crosses iff (y1>py) != (y2>py) and the signed area test
# t = (x1-px)*dy + (x2-x1)*(py-y1) has dy's sign — the division-free
# form of px < x_edge(py). Unrolled per edge as generated literals, so
# both engines evaluate the identical integer expression.
#
# Shape (100 TB): scan-local — one constant-depth integer projection
# per point (whole-stage codegen), then a map-combinable count keyed by
# nation; no join, no geometry library.
# ---------------------------------------------------------------------------
_GS_POLY = (  # non-convex pentagon-ish arrow on the 0..999 lattice
    (100, 100),
    (900, 150),
    (500, 450),
    (850, 800),
    (150, 850),
    (400, 500),
)


def _ray_cast_sql(px: str, py: str) -> str:
    """Generated integer crossing-count expression (DuckDB + Spark SQL
    share this string verbatim — both support CASE/AND/comparison)."""
    terms = []
    n = len(_GS_POLY)
    for i in range(n):
        x1, y1 = _GS_POLY[i]
        x2, y2 = _GS_POLY[(i + 1) % n]
        dy = y2 - y1
        if dy == 0:
            continue  # horizontal edge never crosses a horizontal ray
        spans = f"(({y1} > {py}) != ({y2} > {py}))"
        t = f"(({x1} - {px}) * {dy} + {x2 - x1} * ({py} - {y1}))"
        side = f"{t} > 0" if dy > 0 else f"{t} < 0"
        terms.append(f"(CASE WHEN {spans} AND ({side}) THEN 1 ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


@register(
    "q348_geo_shape_polygon",
    oracle=f"""
    WITH pts AS (
      SELECT c_nationkey,
             (c_custkey * 104729) % 1000 AS px,
             (c_custkey * 7919) % 1000 AS py
      FROM customer)
    SELECT CAST(c_nationkey AS INT) AS nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(SUM({_ray_cast_sql("px", "py")} % 2) AS BIGINT) AS n_inside
    FROM pts GROUP BY c_nationkey ORDER BY nationkey
    """,
)
def q348_geo_shape_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    pts = cust.select(
        F.col("c_nationkey").cast("int").alias("nationkey"),
        ((F.col("c_custkey") * 104729) % 1000).alias("px"),
        ((F.col("c_custkey") * 7919) % 1000).alias("py"),
    )
    inside = F.expr(f"{_ray_cast_sql('px', 'py')} % 2")
    return (
        pts.select("nationkey", inside.alias("inside"))
        .groupBy("nationkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_points"),
            F.sum("inside").cast("bigint").alias("n_inside"),
        )
        .orderBy("nationkey")
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
# Determinism: parent average via exact DECIMAL(18,4) sum then one
# division + ROUND(.,4).
#
# Shape (100 TB): the distinct (orderkey, flag) pairs collapse ~4x in
# a map-side partial before one shuffle; the orders join is key-co-
# partitioned on orderkey; both per-flag aggregates are 3-row frames
# joined broadcast. No row ever carries the parent payload before the
# distinct collapses the nested side.
# ---------------------------------------------------------------------------
@register(
    "q349_reverse_nested",
    oracle="""
    WITH b AS (
      SELECT l_returnflag AS returnflag, CAST(COUNT(*) AS BIGINT) AS nested_hits
      FROM lineitem GROUP BY 1),
    p AS (
      SELECT DISTINCT l_orderkey, l_returnflag FROM lineitem),
    pa AS (
      SELECT p.l_returnflag AS returnflag,
             CAST(COUNT(*) AS BIGINT) AS parent_count,
             ROUND(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
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
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("avg_parent_price"),
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
# q352 — ES `rescore`: retrieve by a cheap primary score (tf of
# "data"), then re-rank only the top `window_size` hits with an
# expensive secondary query (phrase "hash join" occurrences) blended as
# query_weight * primary + rescore_query_weight * phrase_hits — ES's
# two-phase ranking exactly (hits OUTSIDE the window keep their primary
# order and never pay the phrase scan... here the phrase columns are
# simply not computed for them).
#
# Determinism: both scores are integer counts; the blend uses integer-
# valued doubles (weights 1 and 2), so ordering is exact; (score,
# doc_id) tiebreak.
#
# Shape (100 TB): primary tf is scan-local; the window cut is one
# TakeOrdered(50) (never a global sort); the phrase rescorer — the
# nested-array adjacency probe — runs on 50 rows only. This is the
# plan-level point of ES rescore, preserved: expensive scoring cost is
# O(window), not O(corpus).
# ---------------------------------------------------------------------------
_RS_WINDOW = 50
_RS_TOPK = 10
_RS_QW, _RS_RQW = 1.0, 2.0


@register(
    "q352_rescore",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             {TOKS_SQL} AS tk
      FROM documents),
    scored AS (
      SELECT doc_id, tk,
             CAST(len(list_filter(tk, x -> x = 'data')) AS BIGINT) AS primary_tf
      FROM t),
    win AS (
      SELECT doc_id, tk, primary_tf
      FROM scored WHERE primary_tf > 0
      ORDER BY primary_tf DESC, doc_id LIMIT {_RS_WINDOW}),
    re AS (
      SELECT doc_id, primary_tf,
             CAST(len(list_filter(list_transform(tk, (x, i) ->
               CASE WHEN x = 'hash' AND tk[i + 1] = 'join' THEN 1 ELSE 0 END),
               v -> v = 1)) AS BIGINT) AS phrase_hits
      FROM win)
    SELECT doc_id, primary_tf, phrase_hits,
           ROUND(primary_tf * {_RS_QW} + phrase_hits * {_RS_RQW}, 4) AS score
    FROM re ORDER BY score DESC, doc_id LIMIT {_RS_TOPK}
    """,
)
def q352_rescore(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("tk")
    )
    scored = docs.select(
        "doc_id",
        "tk",
        F.size(F.filter(F.col("tk"), lambda x: x == F.lit("data")))
        .cast("bigint")
        .alias("primary_tf"),
    )
    win = (
        scored.filter(F.col("primary_tf") > 0)
        .orderBy(F.desc("primary_tf"), F.asc("doc_id"))
        .limit(_RS_WINDOW)
    )
    # Spark transform index is 0-based; try_element_at is 1-based, so the
    # token AFTER position i is element i+2 (PERF.md #9.5); ANSI-safe via
    # try_element_at (out-of-range -> NULL, same as DuckDB's tk[i+1]).
    phrase = F.expr(
        "CAST(size(filter(transform(tk, (x, i) -> "
        "IF(x = 'hash' AND try_element_at(tk, i + 2) = 'join', 1, 0)), "
        "v -> v = 1)) AS BIGINT)"
    )
    return (
        win.select("doc_id", "primary_tf", phrase.alias("phrase_hits"))
        .select(
            "doc_id",
            "primary_tf",
            "phrase_hits",
            F.round(
                F.col("primary_tf") * _RS_QW + F.col("phrase_hits") * _RS_RQW, 4
            ).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(_RS_TOPK)
    )


# ---------------------------------------------------------------------------
# q353 — ES `span_containing`: match big spans that CONTAIN a little
# span. Big = ordered span_near("data" .. "table", internal gap <= 3);
# little = term "key". A document matches when some big span [pa, pb]
# has a 'key' position p with pa <= p <= pb; surfaces the number of
# containing spans and the tightest containing width. Completes the
# span family (q278 first, q299 near, q325 not, q334 or) with the
# containment direction (span_within is the same test from the little
# side).
#
# Determinism: pure integer position arithmetic on both engines; only
# position DIFFERENCES are compared, so the 0/1-based transform-index
# offset cancels (PERF.md #9.5).
#
# Shape (100 TB): scan-local — position arrays and the nested
# pair-filter fold all live in one projection; |pa|·|pb| is tf-bounded
# per document; one final display sort.
# ---------------------------------------------------------------------------
_SC_BIG_A, _SC_BIG_B, _SC_LITTLE = "data", "table", "key"
_SC_GAP = 3


@register(
    "q353_span_containing",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             {TOKS_SQL} AS tk
      FROM documents),
    pos AS (
      SELECT doc_id,
             list_filter(list_transform(tk, (x, i) ->
               CASE WHEN x = '{_SC_BIG_A}' THEN i ELSE -1 END), p -> p >= 0) AS pa,
             list_filter(list_transform(tk, (x, i) ->
               CASE WHEN x = '{_SC_BIG_B}' THEN i ELSE -1 END), p -> p >= 0) AS pb,
             list_filter(list_transform(tk, (x, i) ->
               CASE WHEN x = '{_SC_LITTLE}' THEN i ELSE -1 END), p -> p >= 0) AS pl
      FROM t),
    spans AS (
      SELECT doc_id,
             flatten(list_transform(pa, a -> list_filter(
               list_transform(pb, b ->
                 CASE WHEN b > a AND b - a - 1 <= {_SC_GAP}
                      AND len(list_filter(pl, p -> p >= a AND p <= b)) > 0
                 THEN b - a ELSE -1 END), w -> w >= 0))) AS widths
      FROM pos
      WHERE len(pa) > 0 AND len(pb) > 0 AND len(pl) > 0)
    SELECT doc_id,
           CAST(len(widths) AS BIGINT) AS n_containing,
           CAST(list_min(widths) AS BIGINT) AS min_width
    FROM spans WHERE len(widths) > 0
    ORDER BY doc_id
    """,
)
def q353_span_containing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("tk")
    )

    def _positions(term: str):
        return F.expr(
            f"filter(transform(tk, (x, i) -> IF(x = '{term}', i, -1)), p -> p >= 0)"
        )

    from ..functions.plan import with_once

    # with_once barriers (functions/plan.py, the q318 lesson): pin the
    # position arrays and the width list to single evaluation —
    # otherwise pl/pb inline inside the per-(a,b) lambdas and widths
    # inlines again into the size() filter.
    pos = with_once(
        docs,
        "ps",
        F.struct(
            _positions(_SC_BIG_A).alias("pa"),
            _positions(_SC_BIG_B).alias("pb"),
            _positions(_SC_LITTLE).alias("pl"),
        ),
    ).filter(
        (F.size("ps.pa") > 0) & (F.size("ps.pb") > 0) & (F.size("ps.pl") > 0)
    )
    widths = F.expr(
        f"flatten(transform(ps.pa, a -> filter(transform(ps.pb, b -> "
        f"IF(b > a AND b - a - 1 <= {_SC_GAP} "
        f"AND size(filter(ps.pl, p -> p >= a AND p <= b)) > 0, b - a, -1)), "
        f"w -> w >= 0)))"
    )
    s = with_once(pos, "widths", widths).filter(F.size("widths") > 0)
    return s.select(
        "doc_id",
        F.size("widths").cast("bigint").alias("n_containing"),
        F.array_min("widths").cast("bigint").alias("min_width"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# q354 — ES `geo_line` aggregation: per bucket (user), the track of
# points ordered by timestamp, truncated to the first `size` points
# (ES's geo_line size cap), surfaced as a "x:y|x:y|..." linestring plus
# the bucket's total point count. Points derive from event_id on the
# 0..999 integer lattice (q340/q348 convention — no float geometry).
#
# Shape (100 TB): the rank window filters to rank <= size so
# WindowGroupLimit prunes each user's sort to 10 rows BEFORE the
# exchange; the total counts come from a separate map-combinable agg
# broadcast back (same two-scan rationale as top_hits,
# operators/relational.py). Only users with >= 15 events are kept so
# the result stays selective.
# ---------------------------------------------------------------------------
_GL_SIZE = 10
_GL_MIN_EVENTS = 15


@register(
    "q354_geo_line",
    oracle=f"""
    WITH pts AS (
      SELECT user_id, ts, event_id,
             CAST((event_id * 104729) % 1000 AS VARCHAR) || ':' ||
             CAST((event_id * 7919) % 1000 AS VARCHAR) AS pt,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS rk
      FROM events),
    lines AS (
      SELECT user_id, string_agg(pt, '|' ORDER BY rk) AS line
      FROM pts WHERE rk <= {_GL_SIZE} GROUP BY user_id),
    totals AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY user_id)
    SELECT l.user_id, t.n_events, l.line
    FROM lines l JOIN totals t ON l.user_id = t.user_id
    WHERE t.n_events >= {_GL_MIN_EVENTS}
    ORDER BY l.user_id
    """,
)
def q354_geo_line(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    pt = F.concat_ws(
        ":",
        ((F.col("event_id") * 104729) % 1000).cast("string"),
        ((F.col("event_id") * 7919) % 1000).cast("string"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ranked = (
        ev.select("user_id", pt.alias("pt"), F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= _GL_SIZE)
    )
    lines = ranked.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("rk", "pt"))),
                lambda s: s["pt"],
            ),
            "|",
        ).alias("line")
    )
    totals = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events")
    )
    return (
        lines.join(F.broadcast(totals.filter(F.col("n_events") >= _GL_MIN_EVENTS)),
                   "user_id")
        .select("user_id", "n_events", "line")
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# q355 — T5-style span-corruption manifest (LLM pretraining prep): for
# each document, mask ~15% of tokens as mean-3-token spans. n_spans =
# (n*15//100)//3; the document is cut into n_spans equal strides and
# span k starts at (k-1)*stride + (md5(doc_id:k) mod (stride-3)) —
# deterministic, reproducible on any worker, and non-overlapping BY
# CONSTRUCTION (stride >= 20 whenever n_spans >= 1, since n_spans <=
# n/20). Emits the per-doc manifest fingerprint the masking job and the
# sentinel-token writer both consume.
#
# Determinism: integer div/mod only (DIV discipline) + md5-derived
# offsets (corpus.py's 16-bit md5 pattern) — no RNG, no floats.
#
# Shape (100 TB): entirely scan-local (one projection computes the
# whole spans array row-locally); the only shuffle is the display sort.
# ---------------------------------------------------------------------------
@register(
    "q355_span_corruption",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             len({TOKS_SQL})
               AS n
      FROM documents),
    s AS (
      SELECT doc_id, n, (n * 15 // 100) // 3 AS n_spans, 
             n // (CASE WHEN (n * 15 // 100) // 3 > 0
                        THEN (n * 15 // 100) // 3 ELSE 1 END) AS stride
      FROM t WHERE (n * 15 // 100) // 3 > 0),
    m AS (
      SELECT doc_id, n, n_spans,
             list_transform(range(1, n_spans + 1), k ->
               (k - 1) * stride
               + {md5_hex_int_sql("CAST(doc_id AS VARCHAR) || ':' || CAST(k AS VARCHAR)", 4)}
                 % (stride - 3)) AS starts
      FROM s)
    SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
           CAST(n_spans AS BIGINT) AS n_spans,
           CAST(n_spans * 3 AS BIGINT) AS masked_tokens,
           ROUND(CAST(n_spans * 3 AS DOUBLE) / n, 4) AS corruption_rate,
           md5(list_aggregate(list_transform(starts,
             x -> CAST(x AS VARCHAR)), 'string_agg', ',')) AS manifest_md5
    FROM m ORDER BY doc_id
    """,
)
def q355_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(tokens("text")).alias("n")
    )
    s = t.select(
        "doc_id",
        "n",
        F.expr("(n * 15 DIV 100) DIV 3").alias("n_spans"),
    ).filter(F.col("n_spans") > 0).withColumn(
        "stride", F.expr("n DIV n_spans")
    )
    starts = F.expr(
        "transform(sequence(1, n_spans), k -> (k - 1) * stride "
        "+ (conv(substring(md5(concat(CAST(doc_id AS STRING), ':', "
        "CAST(k AS STRING))), 1, 4), 16, 10) % (stride - 3)))"
    )
    m = s.select("doc_id", "n", "n_spans", starts.alias("starts"))
    return m.select(
        "doc_id",
        F.col("n").cast("bigint").alias("n_tokens"),
        F.col("n_spans").cast("bigint").alias("n_spans"),
        (F.col("n_spans") * 3).cast("bigint").alias("masked_tokens"),
        F.round((F.col("n_spans") * 3).cast("double") / F.col("n"), 4).alias(
            "corruption_rate"
        ),
        F.md5(
            F.array_join(F.transform(F.col("starts"), lambda x: x.cast("string")), ",")
        ).alias("manifest_md5"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# q356 — instruction-tuning template audit (chat formatting + loss
# masking): each document becomes a {prompt, response} sample under a
# fixed template (8-token instruction head + 2 template-overhead tokens
# + response + 1 EOS). Per source: sample count, total padded tokens,
# the average LOSS FRACTION (response tokens / total — the share of
# positions that actually train), and how many samples overflow a
# 512-token context. The standard pre-flight audit before an SFT run.
#
# Determinism: integer token counts; per-sample loss fractions
# ROUND(.,6) → DECIMAL(18,6) before the exact cross-row average.
#
# Shape (100 TB): scan-local arithmetic + one map-combinable shuffle
# keyed by source.
# ---------------------------------------------------------------------------
_CT_HEAD, _CT_OVERHEAD, _CT_EOS, _CT_CTX = 8, 2, 1, 512


@register(
    "q356_chat_template_audit",
    oracle=f"""
    WITH t AS (
      SELECT source,
             len({TOKS_SQL})
               AS n
      FROM documents),
    s AS (
      SELECT source, n,
             (CASE WHEN n < {_CT_HEAD} THEN n ELSE {_CT_HEAD} END)
               + {_CT_OVERHEAD} + n + {_CT_EOS} AS total,
             ROUND(CAST(n AS DOUBLE) /
               ((CASE WHEN n < {_CT_HEAD} THEN n ELSE {_CT_HEAD} END)
                + {_CT_OVERHEAD} + n + {_CT_EOS}), 6) AS loss_frac
      FROM t)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_samples,
           CAST(SUM(total) AS BIGINT) AS total_tokens,
           ROUND(CAST(SUM(CAST(loss_frac AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(*), 6) AS avg_loss_frac,
           CAST(COUNT(*) FILTER (WHERE total > {_CT_CTX}) AS BIGINT)
             AS n_over_context
    FROM s GROUP BY source ORDER BY source
    """,
)
def q356_chat_template_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_table(spark, sf_dir, "documents").select(
        "source", F.size(tokens("text")).alias("n")
    )
    total = (
        F.least(F.col("n"), F.lit(_CT_HEAD))
        + F.lit(_CT_OVERHEAD)
        + F.col("n")
        + F.lit(_CT_EOS)
    )
    s = t.select(
        "source",
        total.alias("total"),
        F.round(F.col("n").cast("double") / total, 6).alias("loss_frac"),
    )
    return (
        s.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_samples"),
            F.sum("total").cast("bigint").alias("total_tokens"),
            F.round(
                F.sum(F.col("loss_frac").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_loss_frac"),
            F.count_if(F.col("total") > _CT_CTX).cast("bigint").alias("n_over_context"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q357 — domain mixture reweighting (DoReMi-style multiplicative
# weights, LINEARIZED): each source's sampling weight starts at its
# corpus share w0 and is updated by 1 + eta * excess, where excess is
# the source's relative deviation of a per-doc signal (mean document
# length as the loss proxy) from the corpus mean; weights are floored
# at 0.2*w0 (no domain starves) and renormalized. The linear update
# replaces DoReMi's exp(eta·excess) so the arithmetic stays a single
# shared double expression on both engines (exp differs in the last
# ulp across libm implementations — the engine's determinism contract
# forbids it).
#
# Determinism: per-source raw weights ROUND(.,8) → DECIMAL(18,8)
# before the exact normalization sum.
#
# Shape (100 TB): one map-combinable shuffle keyed by source (20
# groups); the corpus totals and the normalizer are 1-row frames
# broadcast back — three tiny joins, zero full-data rescans.
# ---------------------------------------------------------------------------
_DR_ETA = 0.5
_DR_FLOOR = 0.2


@register(
    "q357_domain_reweight",
    oracle=f"""
    WITH per AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(n_chars AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
               AS proxy
      FROM documents GROUP BY source),
    tot AS (
      SELECT CAST(SUM(n) AS DOUBLE) AS n_total,
             CAST(SUM(CAST(proxy * n AS DECIMAL(18,4))) AS DOUBLE) / SUM(n)
               AS proxy_all
      FROM per),
    raw AS (
      SELECT p.source, p.n,
             CAST(ROUND(
               CASE WHEN (p.n / t.n_total) * (1 + {_DR_ETA} * ((p.proxy - t.proxy_all) / t.proxy_all))
                         > {_DR_FLOOR} * (p.n / t.n_total)
                    THEN (p.n / t.n_total) * (1 + {_DR_ETA} * ((p.proxy - t.proxy_all) / t.proxy_all))
                    ELSE {_DR_FLOOR} * (p.n / t.n_total) END, 8)
               AS DECIMAL(18,8)) AS w_raw
      FROM per p, tot t)
    SELECT source, n AS n_docs,
           ROUND(CAST(w_raw AS DOUBLE), 8) AS w_raw,
           ROUND(CAST(w_raw AS DOUBLE)
                 / CAST((SELECT SUM(w_raw) FROM raw) AS DOUBLE), 6) AS weight
    FROM raw ORDER BY source
    """,
)
def q357_domain_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("source", "n_chars")
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (
            F.sum(F.col("n_chars").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("proxy"),
    )
    tot = per.agg(
        F.sum("n").cast("double").alias("n_total"),
        (
            F.sum((F.col("proxy") * F.col("n")).cast("decimal(18,4)")).cast("double")
            / F.sum("n")
        ).alias("proxy_all"),
    )
    w0 = F.col("n") / F.col("n_total")
    upd = w0 * (
        F.lit(1) + F.lit(_DR_ETA) * ((F.col("proxy") - F.col("proxy_all")) / F.col("proxy_all"))
    )
    raw = per.crossJoin(F.broadcast(tot)).select(
        "source",
        "n",
        F.round(F.greatest(upd, F.lit(_DR_FLOOR) * w0), 8)
        .cast("decimal(18,8)")
        .alias("w_raw"),
    )
    norm = raw.agg(F.sum("w_raw").alias("w_sum"))
    return (
        raw.crossJoin(F.broadcast(norm))
        .select(
            "source",
            F.col("n").alias("n_docs"),
            F.round(F.col("w_raw").cast("double"), 8).alias("w_raw"),
            F.round(
                F.col("w_raw").cast("double") / F.col("w_sum").cast("double"), 6
            ).alias("weight"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q358 — MinHash LSH band-configuration audit (the S-curve tuning step
# every LSH dedup deployment runs before picking b×r): for each
# candidate config, the detection probability 1 - (1 - s^r)^b over the
# OBSERVED 3-shingle Jaccard distribution of a deterministic pair
# sample (adjacent doc_ids — an unbiased, coordination-free probe of
# the corpus's similarity profile). Reports, per config, the
# mean detection probability and how many sampled pairs clear p >= 0.5
# — the numbers that decide which (bands, rows) q32/q38 should run
# with at the corpus's actual similarity profile.
#
# Determinism: s is an exact integer-ratio double; the S-curve is
# GENERATED as an explicit multiplication chain (s*s*...*s), never
# pow() (libm-dependent); per-pair p is ROUND(.,8) → DECIMAL(18,8)
# before the exact cross-pair mean.
#
# Shape (100 TB): the pair sample joins on doc_id+1 — key-co-
# partitioned equi-join, one shuffle, |docs| pairs max (never
# all-pairs); the 4-config explode is row-local; final agg is 4 rows.
# ---------------------------------------------------------------------------
_SC_CONFIGS = ((2, 8), (4, 4), (8, 2), (16, 1))  # (bands, rows_per_band)


def _schain(base: str, k: int) -> str:
    return "(" + " * ".join([base] * k) + ")" if k > 1 else base


def _scurve_case(s_col: str, bands_col: str) -> str:
    """CASE over configs: 1 - (1 - s^r)^b as explicit product chains."""
    whens = []
    for b_, r_ in _SC_CONFIGS:
        sr = _schain(s_col, r_)
        whens.append(
            f"WHEN {bands_col} = {b_} THEN 1 - " + _schain(f"(1 - {sr})", b_)
        )
    return "CASE " + " ".join(whens) + " END"


_SC_VALUES = ", ".join(f"({b_}, {r_})" for b_, r_ in _SC_CONFIGS)


@register(
    "q358_lsh_s_curve_audit",
    oracle=f"""
    WITH t AS (
      SELECT source, doc_id,
             {TOKS_SQL} AS tk
      FROM documents),
    g AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(tk) - 1), i ->
               tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])) AS gr
      FROM t WHERE len(tk) >= 3),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(len(list_intersect(a.gr, b.gr)) AS DOUBLE)
               / len(list_distinct(list_concat(a.gr, b.gr))) AS s
      FROM g a JOIN g b ON b.doc_id = a.doc_id + 1),
    curves AS (
      SELECT c.bands, c.rpb, p.s,
             CAST(ROUND({_scurve_case("p.s", "c.bands")}, 8)
                  AS DECIMAL(18,8)) AS detect_p
      FROM pairs p, (VALUES {_SC_VALUES}) AS c(bands, rpb))
    SELECT CAST(bands AS INT) AS bands, CAST(rpb AS INT) AS rows_per_band,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(CAST(SUM(detect_p) AS DOUBLE) / COUNT(*), 6) AS avg_detect_p,
           CAST(COUNT(*) FILTER (WHERE CAST(detect_p AS DOUBLE) >= 0.5) AS BIGINT)
             AS n_detectable
    FROM curves GROUP BY bands, rpb ORDER BY bands
    """,
)
def q358_lsh_s_curve_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("tk")
    )
    g = t.filter(F.size("tk") >= 3).select(
        "doc_id",
        F.expr(
            "array_distinct(transform(sequence(1, size(tk) - 2), i -> "
            "concat_ws(' ', element_at(tk, CAST(i AS INT)), "
            "element_at(tk, CAST(i + 1 AS INT)), element_at(tk, CAST(i + 2 AS INT)))))"
        ).alias("gr"),
    )
    a = g.select(F.col("doc_id").alias("id_a"), F.col("gr").alias("ga"))
    b = g.select(
        (F.col("doc_id") - 1).alias("id_a"),
        F.col("doc_id").alias("id_b"),
        F.col("gr").alias("gb"),
    )
    pairs = a.join(b, ["id_a"]).select(
        "id_a",
        "id_b",
        (
            F.size(F.array_intersect("ga", "gb")).cast("double")
            / F.size(F.array_union("ga", "gb"))
        ).alias("s"),
    )
    cfg = F.explode(
        F.array(*[F.struct(F.lit(b_).alias("bands"), F.lit(r_).alias("rpb"))
                  for b_, r_ in _SC_CONFIGS])
    )
    # per-config S-curve as an explicit multiplication chain (no pow)
    curves = (
        pairs.select("s", cfg.alias("c"))
        .select(
            F.col("c.bands").alias("bands"),
            F.col("c.rpb").alias("rows_per_band"),
            "s",
        )
        .select(
            "bands",
            "rows_per_band",
            F.expr(
                f"CAST(ROUND({_scurve_case('s', 'bands')}, 8) AS DECIMAL(18,8))"
            ).alias("detect_p"),
        )
    )
    return (
        curves.groupBy("bands", "rows_per_band")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.round(
                F.sum("detect_p").cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_detect_p"),
            F.count_if(F.col("detect_p").cast("double") >= 0.5)
            .cast("bigint")
            .alias("n_detectable"),
        )
        .orderBy("bands")
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
# q360 — ES `_termvectors` API (term_statistics=true): for a requested
# set of documents, each document's top-5 terms by term frequency,
# with the corpus-wide document frequency attached per term. The
# per-doc tf side is scan-local; the df side is the corpus statistic
# the API returns when term_statistics is on.
#
# Shape (100 TB): the tf explode is restricted to the REQUESTED doc
# ids by a pushed-down `doc_id IN (...)` filter (a parquet row-group
# skip); the corpus df explode computes distinct (token, doc) once,
# then a LEFT-SEMI join against the <=15 candidate terms (broadcast)
# collapses it before the count shuffle — the full df table is never
# materialized for terms nobody asked about.
# ---------------------------------------------------------------------------
_TV_DOCS = (0, 1, 2)
_TV_K = 5


@register(
    "q360_term_vectors",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             {TOKS_SQL} AS tk
      FROM documents),
    tf AS (
      SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest(tk) AS tok FROM t
            WHERE doc_id IN {_TV_DOCS})
      GROUP BY doc_id, tok),
    top AS (
      SELECT doc_id, tok, tf,
             ROW_NUMBER() OVER (PARTITION BY doc_id
               ORDER BY tf DESC, tok) AS rk
      FROM tf),
    cand AS (SELECT DISTINCT tok FROM top WHERE rk <= {_TV_K}),
    df AS (
      SELECT tok, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
      FROM (SELECT doc_id, unnest(tk) AS tok FROM t) u
      WHERE tok IN (SELECT tok FROM cand)
      GROUP BY tok)
    SELECT p.doc_id, CAST(p.rk AS INT) AS rank, p.tok AS term, p.tf, d.df
    FROM top p JOIN df d ON p.tok = d.tok
    WHERE p.rk <= {_TV_K}
    ORDER BY p.doc_id, p.rk
    """,
)
def q360_term_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("tk")
    )
    req = docs.filter(F.col("doc_id").isin(*_TV_DOCS))
    tf = (
        req.select("doc_id", F.explode("tk").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tf"), F.asc("tok"))
    top = tf.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= _TV_K)
    cand = top.select("tok").distinct()
    df = (
        docs.select("doc_id", F.explode(F.array_distinct("tk")).alias("tok"))
        .join(F.broadcast(cand), "tok", "leftsemi")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    )
    return (
        top.join(F.broadcast(df), "tok")
        .select("doc_id", F.col("rk").cast("int").alias("rank"),
                F.col("tok").alias("term"), "tf", "df")
        .orderBy("doc_id", "rank")
    )


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


# ---------------------------------------------------------------------------
# q362 — training token-budget allocation: given the q357 mixture
# weights and a fixed total token budget, each source's token quota,
# how many epochs over its available tokens that quota implies
# (the Muennighoff-style repetition factor), and whether it crosses
# the 4-epoch "repeated data stops helping" line. The planning table a
# pretraining run derives right after fixing its mixture.
#
# Determinism: quotas are integer DIV shares of the budget; the epoch
# factor is one shared double division ROUND(.,4).
#
# Shape (100 TB): everything after the per-source token count (one
# map-combinable shuffle, 20 groups) operates on the 20-row frame —
# three tiny broadcast self-joins, zero rescans.
# ---------------------------------------------------------------------------
_TB_BUDGET = 10_000_000  # tokens to allocate across sources
_TB_ETA = 0.5
_TB_FLOOR = 0.2


@register(
    "q362_token_budget",
    oracle=f"""
    WITH per AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(len({TOKS_SQL}))
               AS BIGINT) AS avail_tokens,
             CAST(SUM(CAST(n_chars AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
               AS proxy
      FROM documents GROUP BY source),
    tot AS (
      SELECT CAST(SUM(n) AS DOUBLE) AS n_total,
             CAST(SUM(CAST(proxy * n AS DECIMAL(18,4))) AS DOUBLE) / SUM(n)
               AS proxy_all
      FROM per),
    raw AS (
      SELECT p.source, p.avail_tokens,
             CAST(ROUND(
               CASE WHEN (p.n / t.n_total) * (1 + {_TB_ETA} * ((p.proxy - t.proxy_all) / t.proxy_all))
                         > {_TB_FLOOR} * (p.n / t.n_total)
                    THEN (p.n / t.n_total) * (1 + {_TB_ETA} * ((p.proxy - t.proxy_all) / t.proxy_all))
                    ELSE {_TB_FLOOR} * (p.n / t.n_total) END, 8)
               AS DECIMAL(18,8)) AS w_raw
      FROM per p, tot t),
    quota AS (
      SELECT source, avail_tokens,
             CAST(floor({_TB_BUDGET} * CAST(w_raw AS DOUBLE)
                  / CAST((SELECT SUM(w_raw) FROM raw) AS DOUBLE)) AS BIGINT)
               AS q_exact
      FROM raw)
    SELECT source, avail_tokens,
           CAST(q_exact AS BIGINT) AS token_quota,
           ROUND(CAST(q_exact AS DOUBLE) / avail_tokens, 4) AS epochs,
           CAST(q_exact AS DOUBLE) / avail_tokens > 4 AS over_repeat_line
    FROM quota ORDER BY source
    """,
)
def q362_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "source", "n_chars", F.size(tokens("text")).alias("n_tok")
    )
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("n_tok").cast("bigint").alias("avail_tokens"),
        (
            F.sum(F.col("n_chars").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("proxy"),
    )
    tot = per.agg(
        F.sum("n").cast("double").alias("n_total"),
        (
            F.sum((F.col("proxy") * F.col("n")).cast("decimal(18,4)")).cast("double")
            / F.sum("n")
        ).alias("proxy_all"),
    )
    w0 = F.col("n") / F.col("n_total")
    upd = w0 * (
        F.lit(1)
        + F.lit(_TB_ETA) * ((F.col("proxy") - F.col("proxy_all")) / F.col("proxy_all"))
    )
    raw = per.crossJoin(F.broadcast(tot)).select(
        "source",
        "avail_tokens",
        F.round(F.greatest(upd, F.lit(_TB_FLOOR) * w0), 8)
        .cast("decimal(18,8)")
        .alias("w_raw"),
    )
    norm = raw.agg(F.sum("w_raw").alias("w_sum"))
    quota = raw.crossJoin(F.broadcast(norm)).select(
        "source",
        "avail_tokens",
        # floor of one shared double expression (identical IEEE ops on
        # both engines) — decimal // decimal differs between engines
        # (DuckDB rounds the decimal quotient to scale before flooring)
        F.floor(
            F.lit(_TB_BUDGET) * F.col("w_raw").cast("double")
            / F.col("w_sum").cast("double")
        )
        .cast("bigint")
        .alias("q_exact"),
    )
    return quota.select(
        "source",
        "avail_tokens",
        F.col("q_exact").cast("bigint").alias("token_quota"),
        F.round(F.col("q_exact").cast("double") / F.col("avail_tokens"), 4).alias(
            "epochs"
        ),
        (F.col("q_exact").cast("double") / F.col("avail_tokens") > 4).alias(
            "over_repeat_line"
        ),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# q363 — chat-template leak audit: count documents containing any of a
# set of template/control MARKER tokens ("assistant", "endoftext",
# plus two corpus-present controls), with the earliest token position
# and per-corpus share — the standard pre-training hygiene scan for
# chat-markup and special-token leakage into raw text. Markers with
# zero hits still surface (count 0) via a left join from the literal
# marker frame, so the report always has one row per configured marker.
#
# Determinism: integer token positions (array_position, 1-based on
# both engines); share = one shared double division ROUND(.,6).
#
# Shape (100 TB): the marker set is a 4-row literal exploded row-
# locally against each document's token array (scan-local containment
# probes fused into one projection); one map-combinable shuffle keyed
# by marker; the corpus total is a 1-row broadcast.
# ---------------------------------------------------------------------------
_TL_MARKERS = ("assistant", "endoftext", "spark", "stream")


@register(
    "q363_template_leak_audit",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             {TOKS_SQL} AS tk
      FROM documents),
    hits AS (
      SELECT m.marker,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(MIN(list_position(t.tk, m.marker)) AS BIGINT) AS min_first_pos
      FROM t CROSS JOIN (SELECT UNNEST({list(_TL_MARKERS)!r}) AS marker) m
      WHERE list_contains(t.tk, m.marker)
      GROUP BY m.marker),
    tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents)
    SELECT m.marker,
           COALESCE(h.n_docs, 0) AS n_docs,
           h.min_first_pos,
           ROUND(COALESCE(h.n_docs, 0) / t.n, 6) AS doc_share
    FROM (SELECT UNNEST({list(_TL_MARKERS)!r}) AS marker) m
    LEFT JOIN hits h ON m.marker = h.marker CROSS JOIN tot t
    ORDER BY m.marker
    """,
)
def q363_template_leak_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("tk")
    )
    m = F.explode(F.array(*[F.lit(x) for x in _TL_MARKERS])).alias("marker")
    hits = (
        docs.select("tk", m)
        .filter(F.array_contains("tk", F.col("marker")))
        .groupBy("marker")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min(F.array_position("tk", F.col("marker"))).cast("bigint").alias(
                "min_first_pos"
            ),
        )
    )
    markers = docs.sparkSession.createDataFrame(
        [(x,) for x in _TL_MARKERS], ["marker"]
    )
    tot = docs.agg(F.count(F.lit(1)).cast("double").alias("n"))
    return (
        markers.join(F.broadcast(hits), "marker", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "marker",
            F.coalesce("n_docs", F.lit(0)).cast("bigint").alias("n_docs"),
            "min_first_pos",
            F.round(F.coalesce("n_docs", F.lit(0)) / F.col("n"), 6).alias("doc_share"),
        )
        .orderBy("marker")
    )


# ---------------------------------------------------------------------------
# q364 — IVF index balance audit (summary statistics over q83's cell
# histogram): cell-count mean/min/max, the imbalance factor
# max·nlist/n (1.0 = perfectly balanced; the number that predicts
# worst-case probe latency), and the coefficient of variation computed
# from EXACT integer sums (sum n, sum n²) — the go/no-go check before
# shipping an IVF index whose hot cells would serialize probes.
#
# Determinism: all moments derive from exact integers; sqrt is IEEE
# correctly-rounded (unlike exp/pow) so the one sqrt is engine-stable
# (same guarantee q37's cosine relies on).
#
# Shape (100 TB): everything past the q83 histogram (one broadcast-
# centroid assignment + 8-group count shuffle) is an 8-row fold.
# ---------------------------------------------------------------------------
from .similarity import _IVF_ASSIGN_SQL  # noqa: E402


@register(
    "q364_ivf_balance_audit",
    oracle=f"""
    WITH {_IVF_ASSIGN_SQL},
    h AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n FROM a GROUP BY cell)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(SUM(n) AS BIGINT) AS n_vecs,
           CAST(MIN(n) AS BIGINT) AS min_cell,
           CAST(MAX(n) AS BIGINT) AS max_cell,
           ROUND(CAST(MAX(n) AS DOUBLE) * COUNT(*) / SUM(n), 4)
             AS imbalance_factor,
           ROUND(sqrt((CAST(SUM(n * n) AS DOUBLE)
                       - CAST(SUM(n) AS DOUBLE) * SUM(n) / COUNT(*)) / COUNT(*))
                 / (CAST(SUM(n) AS DOUBLE) / COUNT(*)), 6) AS cv
    FROM h
    """,
)
def q364_ivf_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import similarity as SIM

    emb = load_table(spark, sf_dir, "embeddings")
    h = (
        SIM.ivf_index(emb, "vec_id", "embedding", nlist=8)
        .groupBy("__cell")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    k = F.count(F.lit(1))
    sum_n = F.sum("n")
    sum_n2 = F.sum(F.col("n") * F.col("n"))
    mean = sum_n.cast("double") / k
    return h.agg(
        k.cast("bigint").alias("n_cells"),
        sum_n.cast("bigint").alias("n_vecs"),
        F.min("n").cast("bigint").alias("min_cell"),
        F.max("n").cast("bigint").alias("max_cell"),
        F.round(F.max("n").cast("double") * k / sum_n, 4).alias("imbalance_factor"),
        F.round(
            F.sqrt((sum_n2.cast("double") - sum_n.cast("double") * sum_n / k) / k)
            / mean,
            6,
        ).alias("cv"),
    )


# ---------------------------------------------------------------------------
# q365 — similarity-metric divergence audit: for one probe vector, the
# top-10 neighbor sets under COSINE vs raw DOT-PRODUCT and how much
# they disagree (overlap count, set Jaccard, whether rank-1 matches).
# The metric-selection check run before building an ANN index: if the
# sets diverge, vector norms carry signal and the index metric must
# match the retrieval metric.
#
# Determinism: both scores are q37's left-to-right double folds; ROUND
# before the top-k cut; (score, vec_id) tiebreaks.
#
# Shape (100 TB): ONE scan scores both metrics in the same projection
# (broadcast 1-row probe), two TakeOrdered(10) cuts — never a global
# sort — and the comparison joins two 10-row frames.
# ---------------------------------------------------------------------------
from .similarity import _cos_sql as _cos_sql5, _dot_sql as _dot_sql5  # noqa: E402


@register(
    "q365_metric_divergence",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
    scored AS (
      SELECT vec_id,
             ROUND({_cos_sql5("v", "qv")}, 6) AS cos_s,
             ROUND({_dot_sql5("v", "qv")}, 6) AS dot_s
      FROM e CROSS JOIN q WHERE vec_id != 0),
    tc AS (SELECT vec_id, cos_s FROM scored ORDER BY cos_s DESC, vec_id LIMIT 10),
    td AS (SELECT vec_id, dot_s FROM scored ORDER BY dot_s DESC, vec_id LIMIT 10),
    c1 AS (SELECT vec_id FROM tc ORDER BY cos_s DESC, vec_id LIMIT 1),
    d1 AS (SELECT vec_id FROM td ORDER BY dot_s DESC, vec_id LIMIT 1)
    SELECT CAST((SELECT COUNT(*) FROM tc JOIN td ON tc.vec_id = td.vec_id)
                AS BIGINT) AS n_common,
           ROUND(CAST((SELECT COUNT(*) FROM tc JOIN td ON tc.vec_id = td.vec_id)
                      AS DOUBLE)
                 / (20 - (SELECT COUNT(*) FROM tc JOIN td
                          ON tc.vec_id = td.vec_id)), 4) AS jaccard,
           (SELECT vec_id FROM c1) = (SELECT vec_id FROM d1) AS top1_same
    """,
)
def q365_metric_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import cosine, dot

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").alias("v")
    )
    q = emb.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    scored = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(cosine(F.col("v"), F.col("qv")), 6).alias("cos_s"),
            F.round(dot(F.col("v"), F.col("qv")), 6).alias("dot_s"),
        )
    )
    tc = scored.orderBy(F.desc("cos_s"), F.asc("vec_id")).limit(10)
    td = scored.orderBy(F.desc("dot_s"), F.asc("vec_id")).limit(10)
    common = tc.join(td, "vec_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_common")
    )
    c1 = tc.orderBy(F.desc("cos_s"), F.asc("vec_id")).limit(1).select(
        F.col("vec_id").alias("c1")
    )
    d1 = td.orderBy(F.desc("dot_s"), F.asc("vec_id")).limit(1).select(
        F.col("vec_id").alias("d1")
    )
    return (
        common.crossJoin(F.broadcast(c1))
        .crossJoin(F.broadcast(d1))
        .select(
            "n_common",
            F.round(
                F.col("n_common").cast("double") / (20 - F.col("n_common")), 4
            ).alias("jaccard"),
            (F.col("c1") == F.col("d1")).alias("top1_same"),
        )
    )


# ---------------------------------------------------------------------------
# q366 — dataset card (per-source corpus summary): the one-page table a
# dataset release ships — documents, token totals, language spread,
# EXACT-duplICATE rate (md5-of-text within source), and mean length.
# A composition capstone over the engine's dedup + textstats families.
#
# Determinism: counts and md5 groupings are exact; mean length via
# DECIMAL sum then one divide+round.
#
# Shape (100 TB): ONE pass computes tokens/langs/lengths (map-
# combinable, keyed by source); the dup rate needs its own (source,
# md5) collapse — a second map-combinable shuffle whose key includes
# the fingerprint, joined back at |sources| rows. No rescans beyond
# those two aggregations.
# ---------------------------------------------------------------------------
@register(
    "q366_dataset_card",
    oracle=f"""
    WITH t AS (
      SELECT source, lang, n_chars, md5(text) AS fp,
             len({TOKS_SQL})
               AS n_tok
      FROM documents),
    base AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
             CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
             ROUND(CAST(SUM(CAST(n_chars AS DECIMAL(18,2))) AS DOUBLE)
                   / COUNT(*), 4) AS avg_chars
      FROM t GROUP BY source),
    dup AS (
      SELECT source,
             CAST(SUM(c - 1) AS BIGINT) AS n_dup_docs
      FROM (SELECT source, fp, COUNT(*) AS c FROM t GROUP BY source, fp)
      GROUP BY source)
    SELECT b.source, b.n_docs, b.n_tokens, b.n_langs, b.avg_chars,
           d.n_dup_docs,
           ROUND(CAST(d.n_dup_docs AS DOUBLE) / b.n_docs, 6) AS dup_rate
    FROM base b JOIN dup d ON b.source = d.source
    ORDER BY b.source
    """,
)
def q366_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_table(spark, sf_dir, "documents").select(
        "source",
        "lang",
        "n_chars",
        F.md5("text").alias("fp"),
        F.size(tokens("text")).alias("n_tok"),
    )
    base = t.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        F.round(
            F.sum(F.col("n_chars").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1)),
            4,
        ).alias("avg_chars"),
    )
    dup = (
        t.groupBy("source", "fp")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("source")
        .agg(F.sum(F.col("c") - 1).cast("bigint").alias("n_dup_docs"))
    )
    return (
        base.join(F.broadcast(dup), "source")
        .select(
            "source", "n_docs", "n_tokens", "n_langs", "avg_chars", "n_dup_docs",
            F.round(F.col("n_dup_docs").cast("double") / F.col("n_docs"), 6).alias(
                "dup_rate"
            ),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q367 — vocabulary coverage curve: what fraction of all token
# OCCURRENCES the top-K most frequent types cover, for a K ladder —
# the curve that sizes a tokenizer vocabulary (complement of q185's
# per-document OOV view: this is corpus-level and cumulative).
#
# Determinism: occurrence counts are exact integers; the cumulative
# rank ordering ties-breaks by token; coverage is one shared double
# division ROUND(.,6).
#
# Shape (100 TB): one map-combinable (token → count) shuffle; the
# ranking + cumulative sum then run over the TYPE table (vocabulary-
# sized, not corpus-sized — the same domain-not-rows bound as q350);
# the K ladder probes it with 4 rank lookups.
# ---------------------------------------------------------------------------
_VC_LADDER = (10, 50, 100, 500)


@register(
    "q367_vocab_coverage_curve",
    oracle=f"""
    WITH tok AS (
      SELECT unnest({TOKS_SQL}) AS tk
      FROM documents),
    cnt AS (SELECT tk, COUNT(*) AS c FROM tok GROUP BY tk),
    ranked AS (
      SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, tk) AS r,
             SUM(c) OVER (ORDER BY c DESC, tk
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM cnt),
    tot AS (SELECT SUM(c) AS n, MAX(r) AS n_types FROM ranked CROSS JOIN (SELECT 1) x),
    probe AS (SELECT UNNEST({list(_VC_LADDER)!r}) AS k)
    SELECT CAST(p.k AS BIGINT) AS k,
           CAST((SELECT MAX(cum) FROM ranked WHERE r <= p.k) AS BIGINT)
             AS covered,
           CAST(t.n_types AS BIGINT) AS n_types,
           ROUND(CAST((SELECT MAX(cum) FROM ranked WHERE r <= p.k) AS DOUBLE)
                 / t.n, 6) AS coverage
    FROM probe p CROSS JOIN tot t
    ORDER BY k
    """,
)
def q367_vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    cnt = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(tokens("text")).alias("tk"))
        .groupBy("tk")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.orderBy(F.desc("c"), F.asc("tk"))
    ranked = cnt.select(
        "c",
        F.row_number().over(w).alias("r"),
        F.sum("c").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
    )
    tot = ranked.agg(
        F.sum("c").cast("double").alias("n"),
        F.max("r").cast("bigint").alias("n_types"),
    )
    probes = F.explode(F.array(*[F.lit(k) for k in _VC_LADDER])).alias("k")
    # rank-ladder lookup: max(cum) over ranks <= k, via a broadcast of
    # the (tiny) type table against the 4-row ladder
    ladder = ranked.sparkSession.range(0).sparkSession.createDataFrame(
        [(k,) for k in _VC_LADDER], ["k"]
    )
    cov = (
        ranked.join(F.broadcast(ladder), ranked["r"] <= ladder["k"])
        .groupBy("k")
        .agg(F.max("cum").cast("bigint").alias("covered"))
    )
    return (
        cov.crossJoin(F.broadcast(tot))
        .select(
            F.col("k").cast("bigint").alias("k"),
            "covered",
            "n_types",
            F.round(F.col("covered").cast("double") / F.col("n"), 6).alias("coverage"),
        )
        .orderBy("k")
    )


# ---------------------------------------------------------------------------
# q368 — tokenizer-migration drift audit: re-tokenizing a corpus with a
# new tokenizer changes every token budget downstream, so the
# migration check compares per-source token counts under the OLD
# (whitespace-split) and NEW (alnum-normalizing) tokenizers: count
# ratio and how many documents drift by more than 10%. Run before any
# tokenizer swap to re-plan budgets (q362) and packing (q344).
#
# Determinism: integer counts; ratios are shared double divisions
# ROUND(.,6).
#
# Shape (100 TB): both tokenizations evaluate in ONE scan-local
# projection (two split expressions fused by codegen), one
# map-combinable shuffle keyed by source.
# ---------------------------------------------------------------------------
@register(
    "q368_tokenizer_drift",
    oracle=f"""
    WITH t AS (
      SELECT source,
             len(string_split(trim(text), ' ')) AS n_old,
             len({TOKS_SQL})
               AS n_new
      FROM documents)
    SELECT source,
           CAST(SUM(n_old) AS BIGINT) AS old_tokens,
           CAST(SUM(n_new) AS BIGINT) AS new_tokens,
           ROUND(CAST(SUM(n_new) AS DOUBLE) / SUM(n_old), 6) AS ratio,
           CAST(COUNT(*) FILTER (
             WHERE ABS(CAST(n_new AS DOUBLE) / n_old - 1.0) > 0.1) AS BIGINT)
             AS n_drifted
    FROM t GROUP BY source ORDER BY source
    """,
)
def q368_tokenizer_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_table(spark, sf_dir, "documents").select(
        "source",
        F.size(F.split(F.trim("text"), " ")).alias("n_old"),
        F.size(tokens("text")).alias("n_new"),
    )
    return (
        t.groupBy("source")
        .agg(
            F.sum("n_old").cast("bigint").alias("old_tokens"),
            F.sum("n_new").cast("bigint").alias("new_tokens"),
            F.round(
                F.sum("n_new").cast("double") / F.sum("n_old"), 6
            ).alias("ratio"),
            F.count_if(
                F.abs(F.col("n_new").cast("double") / F.col("n_old") - 1.0) > 0.1
            )
            .cast("bigint")
            .alias("n_drifted"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q369 — BM25 parameter-grid audit: rank the same query ("data merge")
# under a (k1, b) grid — ES's similarity-module tuning knobs — and
# surface each config's top-3 with scores, so a relevance engineer can
# see exactly how saturation (k1) and length-normalization (b) reshape
# the ranking before changing the index similarity. The single-config
# operator is operators/search.py:bm25_score (q26/q68); this entry is
# the grid form.
#
# Determinism: q26's discipline — ln on identical doubles (both
# engines' ln agrees on these inputs, pinned by the q26 oracle since
# round 1), shared config literals, ROUND(.,4) before the rank cut.
#
# Shape (100 TB): ONE scan computes tf/dl; the corpus stats aggregate
# is a 1-row broadcast; the 4-config explode is row-local (never 4
# rescans — the multi-branch-union anti-pattern, PERF.md #9.3); the
# per-config top-3 is WindowGroupLimit-pruned.
# ---------------------------------------------------------------------------
_BG_TERMS = ("data", "merge")
_BG_GRID = ((1.2, 0.75), (0.9, 0.4), (2.0, 0.75), (1.2, 0.0))


def _bg_term_sql(t: str, i: int, spark_dialect: bool = False) -> str:
    if spark_dialect:
        # references the per-doc tf{i} column hoisted ABOVE the grid
        # explode — tf is grid-independent, so computing it inside the
        # per-(doc, grid-point) score paid the interpreted token lambda
        # 12x per doc (the q318 family of lessons).
        tf = f"tf{i}"
    else:
        tf = f"CAST(len(list_filter(toks, t -> t = '{t}')) AS DOUBLE)"
    idf = (
        f"ln((CAST(n AS DOUBLE) - CAST(df{i} AS DOUBLE) + 0.5)"
        f" / (CAST(df{i} AS DOUBLE) + 0.5) + 1.0)"
    )
    denom = (
        f"({tf} + k1 * ((1.0 - b) + b * "
        f"(CAST(dl AS DOUBLE) / (CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE)))))"
    )
    return f"{idf} * (({tf} * (k1 + 1.0)) / {denom})"


@register(
    "q369_bm25_param_grid",
    oracle=f"""
    WITH dd AS (
      SELECT doc_id,
             {TOKS_SQL}
               AS toks
      FROM documents),
    dl AS (SELECT doc_id, toks, len(toks) AS dl FROM dd),
    stats AS (
      SELECT COUNT(*) AS n, SUM(dl) AS sumdl,
             {', '.join(f"SUM(CASE WHEN list_contains(toks, '{t}') THEN 1 ELSE 0 END) AS df{i}" for i, t in enumerate(_BG_TERMS))}
      FROM dl),
    scored AS (
      SELECT g.k1, g.b, d.doc_id,
             ROUND({' + '.join(_bg_term_sql(t, i) for i, t in enumerate(_BG_TERMS))}, 4)
               AS score
      FROM dl d CROSS JOIN stats
      CROSS JOIN (VALUES {', '.join(f'({k1}, {b})' for k1, b in _BG_GRID)}) AS g(k1, b)),
    ranked AS (
      SELECT k1, b, doc_id, score,
             ROW_NUMBER() OVER (PARTITION BY k1, b
               ORDER BY score DESC, doc_id) AS rk
      FROM scored WHERE score > 0)
    SELECT k1, b, CAST(rk AS INT) AS rank, doc_id, score
    FROM ranked WHERE rk <= 3
    ORDER BY k1, b, rank
    """,
)
def q369_bm25_param_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("toks")
    ).withColumn("dl", F.size("toks"))
    stats = docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dl").alias("sumdl"),
        *[
            F.sum(F.array_contains("toks", t).cast("bigint")).alias(f"df{i}")
            for i, t in enumerate(_BG_TERMS)
        ],
    )
    grid = F.explode(
        F.array(*[
            F.struct(F.lit(k1).alias("k1"), F.lit(b).alias("b"))
            for k1, b in _BG_GRID
        ])
    )
    score_sql = " + ".join(
        _bg_term_sql(t, i, spark_dialect=True) for i, t in enumerate(_BG_TERMS)
    )
    tf_cols = [
        F.expr(f"CAST(size(filter(toks, x -> x = '{t}')) AS DOUBLE)").alias(f"tf{i}")
        for i, t in enumerate(_BG_TERMS)
    ]
    scored = (
        docs.crossJoin(F.broadcast(stats))
        .select("doc_id", "dl", "n", "sumdl",
                *[f"df{i}" for i in range(len(_BG_TERMS))], *tf_cols)
        .select("*", grid.alias("g"))
        .select(
            F.col("g.k1").alias("k1"),
            F.col("g.b").alias("b"),
            "doc_id",
            F.expr(f"ROUND({score_sql}, 4)").alias("score"),
        )
        .filter(F.col("score") > 0)
    )
    w = Window.partitionBy("k1", "b").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("k1", "b", F.col("rk").cast("int").alias("rank"), "doc_id", "score")
        .orderBy("k1", "b", "rank")
    )


# ---------------------------------------------------------------------------
# q370 — ES `ids` query + `exists` query: retrieve documents by
# explicit _id list (pushed down to the scan as an IN filter — parquet
# row-group skipping at scale) and flag, per hit, whether optional
# JSON fields EXIST (ES `exists` = field has a non-null value; here
# props.k is always present and props.m never is, so both branches of
# the semantics are exercised).
#
# Shape (100 TB): the IN(3 ids) predicate reaches PushedFilters; the
# JSON probes are scan-local; no shuffle beyond the 3-row display sort.
# ---------------------------------------------------------------------------
_IDS_SET = (10, 20, 30)


@register(
    "q370_ids_exists_query",
    oracle=f"""
    SELECT event_id, event_type,
           json_extract_string(props, '$.k') IS NOT NULL AS has_k,
           json_extract_string(props, '$.m') IS NOT NULL AS has_m
    FROM events WHERE event_id IN {_IDS_SET}
    ORDER BY event_id
    """,
)
def q370_ids_exists_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.filter(F.col("event_id").isin(*_IDS_SET))
        .select(
            "event_id",
            "event_type",
            F.get_json_object("props", "$.k").isNotNull().alias("has_k"),
            F.get_json_object("props", "$.m").isNotNull().alias("has_m"),
        )
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# q371 — role-aware multi-turn SFT packing manifest (round-7 VERDICT
# #7 — the conversation-shaped extension of q344's GPT-style packing):
# each document becomes a deterministic multi-turn conversation — a
# system turn (first min(6, n) tokens) then alternating user/assistant
# body turns of width 12 (last one partial) — and conversations are
# concatenated per source in doc_id order, each turn serialized with a
# 2-token role header. The manifest emits one row PER TURN: its global
# token offset, serialized length, starting context id (256-token
# contexts, split across boundaries GPT-style with masks carried —
# the TRL-packing layout), whether it spans a context boundary, and
# the LOSS MASK (only assistant-turn content trains; headers, system
# and user spans are masked) — exactly the index an SFT dataloader
# needs to seek any context and build its loss mask without
# re-tokenizing.
#
# Determinism: pure integer running sums and closed-form per-turn
# offsets (2k + sys + 12(k-1) — no iterative fold), integer DIV.
#
# Shape (100 TB): one shuffle to co-locate each source shard for the
# running-sum window (q344's layout pass), then a scan-local per-doc
# turn explode — nbt+1 rows per doc, offsets closed-form so no
# secondary window. Offsets are shard-local by design.
# ---------------------------------------------------------------------------
_CP_SYS, _CP_TURN, _CP_HDR, _CP_CTX = 6, 12, 2, 256


@register(
    "q371_chat_packing",
    oracle=f"""
    WITH t AS (
      SELECT source, doc_id,
             CAST(len({TOKS_SQL}) AS BIGINT) AS n
      FROM documents),
    d AS (
      SELECT source, doc_id, n,
             LEAST(n, {_CP_SYS}) AS sys_len,
             n - LEAST(n, {_CP_SYS}) AS rest,
             (n - LEAST(n, {_CP_SYS}) + {_CP_TURN - 1}) // {_CP_TURN} AS nbt,
             n + {_CP_HDR} * ((n - LEAST(n, {_CP_SYS}) + {_CP_TURN - 1})
                              // {_CP_TURN} + 1) AS conv_len
      FROM t),
    c AS (
      SELECT *, SUM(conv_len) OVER (PARTITION BY source ORDER BY doc_id
               ROWS UNBOUNDED PRECEDING) - conv_len AS conv_off
      FROM d),
    turns AS (
      SELECT source, doc_id, u.k AS turn_idx,
             CASE WHEN u.k = 0 THEN 'system'
                  WHEN (u.k - 1) % 2 = 0 THEN 'user'
                  ELSE 'assistant' END AS role,
             CASE WHEN u.k = 0 THEN sys_len
                  WHEN u.k < nbt THEN {_CP_TURN}
                  ELSE rest - {_CP_TURN} * (nbt - 1) END AS width,
             conv_off + {_CP_HDR} * u.k
               + CASE WHEN u.k = 0 THEN 0
                      ELSE sys_len + {_CP_TURN} * (u.k - 1) END AS toff
      FROM c, UNNEST(range(0, nbt + 1)) AS u(k))
    SELECT source, doc_id, CAST(turn_idx AS BIGINT) AS turn_idx, role,
           CAST(toff AS BIGINT) AS start,
           CAST(width + {_CP_HDR} AS BIGINT) AS n_toks,
           CAST(toff // {_CP_CTX} AS BIGINT) AS context_id,
           (toff // {_CP_CTX})
             != ((toff + width + {_CP_HDR} - 1) // {_CP_CTX})
             AS spans_boundary,
           role = 'assistant' AS loss_mask
    FROM turns ORDER BY source, doc_id, turn_idx
    """,
)
def q371_chat_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", F.size(tokens("text")).cast("bigint").alias("n")
    )
    d = t.select(
        "source", "doc_id", "n",
        F.least(F.col("n"), F.lit(_CP_SYS)).alias("sys_len"),
        (F.col("n") - F.least(F.col("n"), F.lit(_CP_SYS))).alias("rest"),
    ).withColumn(
        "nbt", F.expr(f"(rest + {_CP_TURN - 1}) DIV {_CP_TURN}")
    ).withColumn(
        "conv_len", F.col("n") + _CP_HDR * (F.col("nbt") + 1)
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = d.withColumn("conv_off", F.sum("conv_len").over(w) - F.col("conv_len"))
    turns = c.select(
        "source", "doc_id", "sys_len", "rest", "nbt", "conv_off",
        F.explode(F.expr("sequence(0, nbt)")).alias("turn_idx"),
    )
    width = F.expr(
        f"CASE WHEN turn_idx = 0 THEN sys_len"
        f" WHEN turn_idx < nbt THEN {_CP_TURN}"
        f" ELSE rest - {_CP_TURN} * (nbt - 1) END"
    )
    toff = F.col("conv_off") + _CP_HDR * F.col("turn_idx") + F.expr(
        f"CASE WHEN turn_idx = 0 THEN 0"
        f" ELSE sys_len + {_CP_TURN} * (turn_idx - 1) END"
    )
    role = F.expr(
        "CASE WHEN turn_idx = 0 THEN 'system'"
        " WHEN (turn_idx - 1) % 2 = 0 THEN 'user'"
        " ELSE 'assistant' END"
    )
    out = turns.select(
        "source", "doc_id",
        F.col("turn_idx").cast("bigint").alias("turn_idx"),
        role.alias("role"),
        toff.cast("bigint").alias("start"),
        (width + _CP_HDR).cast("bigint").alias("n_toks"),
        toff.cast("bigint").alias("__toff"),
        width.alias("__w"),
    )
    ctx = F.expr(f"__toff DIV {_CP_CTX}")
    last_ctx = F.expr(f"(__toff + __w + {_CP_HDR - 1}) DIV {_CP_CTX}")
    return out.select(
        "source", "doc_id", "turn_idx", "role", "start", "n_toks",
        ctx.cast("bigint").alias("context_id"),
        (ctx != last_ctx).alias("spans_boundary"),
        (F.col("role") == "assistant").alias("loss_mask"),
    ).orderBy("source", "doc_id", "turn_idx")


# ---------------------------------------------------------------------------
# q372 — ES `percolate`: the REVERSE search — queries are stored
# documents and each incoming document is matched against the whole
# registered-query set (alerting / saved-search fan-out). Five stored
# queries (term, term-on-source, range, bool, terms) are evaluated per
# document; output is one row per stored query with its match count
# and matched-id range.
#
# Shape (100 TB): ES percolates by running the query set per shard;
# here the (tiny, fixed) query set is evaluated as a scan-local
# 5-struct explode per document — no broadcast table needed because
# the predicates compile into the projection — and one map-combinable
# groupBy on query_id (5 groups). The document corpus is never
# shuffled.
# ---------------------------------------------------------------------------


@register(
    "q372_percolate",
    oracle="""
    WITH m AS (
      SELECT doc_id, q.query_id,
             CASE q.query_id
               WHEN 'p1_term_lang_en' THEN lang = 'en'
               WHEN 'p2_term_source'  THEN source = 'src3'
               WHEN 'p3_range_chars'  THEN n_chars >= 200 AND n_chars < 400
               WHEN 'p4_bool_fr_long' THEN lang = 'fr' AND n_chars >= 300
               ELSE lang IN ('de', 'zh')
             END AS matched
      FROM documents,
           (SELECT UNNEST(['p1_term_lang_en', 'p2_term_source',
                           'p3_range_chars', 'p4_bool_fr_long',
                           'p5_terms_lang']) AS query_id) q)
    SELECT query_id,
           CAST(COUNT(*) FILTER (WHERE matched) AS BIGINT) AS n_matches,
           MIN(doc_id) FILTER (WHERE matched) AS first_doc,
           MAX(doc_id) FILTER (WHERE matched) AS last_doc
    FROM m GROUP BY query_id ORDER BY query_id
    """,
)
def q372_percolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    preds = [
        ("p1_term_lang_en", F.col("lang") == "en"),
        ("p2_term_source", F.col("source") == "src3"),
        ("p3_range_chars", (F.col("n_chars") >= 200) & (F.col("n_chars") < 400)),
        ("p4_bool_fr_long", (F.col("lang") == "fr") & (F.col("n_chars") >= 300)),
        ("p5_terms_lang", F.col("lang").isin("de", "zh")),
    ]
    m = docs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(qid).alias("query_id"), p.alias("matched"))
                    for qid, p in preds
                ]
            )
        ).alias("q"),
    ).select("doc_id", "q.query_id", "q.matched")
    return (
        m.groupBy("query_id")
        .agg(
            F.count_if(F.col("matched")).cast("bigint").alias("n_matches"),
            F.min(F.when(F.col("matched"), F.col("doc_id"))).alias("first_doc"),
            F.max(F.when(F.col("matched"), F.col("doc_id"))).alias("last_doc"),
        )
        .orderBy("query_id")
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
# q376 — ES `constant_score` wrapping a `prefix` query: filter-context
# matching (no scoring work) with a fixed boost surfaced as _score.
# Matches documents whose source starts with 'src1' (src1, src10-19).
#
# Shape (100 TB): the prefix compiles to a pushed StringStartsWith
# parquet filter (PushedFilters in the scan); the constant score is a
# literal projection; TakeOrdered(25) — no scoring pass at all,
# exactly why ES users reach for constant_score.
# ---------------------------------------------------------------------------
_CS_BOOST = 1.2


@register(
    "q376_constant_score_prefix",
    oracle=f"""
    SELECT doc_id, source, {_CS_BOOST} AS score
    FROM documents WHERE source LIKE 'src1%'
    ORDER BY doc_id LIMIT 25
    """,
)
def q376_constant_score_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.filter(F.col("source").startswith("src1"))
        .select("doc_id", "source", F.lit(_CS_BOOST).alias("score"))
        .orderBy("doc_id")
        .limit(25)
    )


# ---------------------------------------------------------------------------
# q377 — RLHF preference-pair length-bias audit: the standard
# pre-flight check before reward-model training — if "chosen"
# responses are systematically longer than "rejected" ones, the reward
# model learns length, not quality. Pairs are built deterministically
# (consecutive docs per source in doc_id order); "chosen" is the pair
# member with the higher type-token ratio (distinct/total tokens) —
# the quality proxy — compared EXACTLY by cross-multiplication
# (nd_a·n_b > nd_b·n_a, no float ratios), ties to the lower doc_id.
# Per source: pair count, how often chosen is the longer member, and
# the mean token-length gap (chosen − rejected; negative = the
# quality proxy anti-correlates with length).
#
# Shape (100 TB): one window shuffle keyed by source (rn + lead — the
# pairing is a single pass, no self-join), then a map-combinable
# 20-group aggregate. Token stats are scan-local.
# ---------------------------------------------------------------------------


@register(
    "q377_preference_pair_audit",
    oracle=f"""
    WITH t AS (
      SELECT source, doc_id,
             CAST(len({TOKS_SQL}) AS BIGINT) AS n,
             CAST(len(list_distinct({TOKS_SQL})) AS BIGINT) AS nd
      FROM documents),
    w AS (
      SELECT source, doc_id, n, nd,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn,
             LEAD(n)  OVER (PARTITION BY source ORDER BY doc_id) AS n_b,
             LEAD(nd) OVER (PARTITION BY source ORDER BY doc_id) AS nd_b
      FROM t),
    p AS (
      SELECT source,
             CASE WHEN nd * n_b >= nd_b * n THEN n ELSE n_b END AS chosen_n,
             CASE WHEN nd * n_b >= nd_b * n THEN n_b ELSE n END AS rejected_n
      FROM w WHERE rn % 2 = 1 AND n_b IS NOT NULL)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COUNT(*) FILTER (WHERE chosen_n > rejected_n) AS BIGINT)
             AS chosen_longer,
           ROUND(CAST(SUM(chosen_n - rejected_n) AS DOUBLE) / COUNT(*), 4)
             AS mean_len_gap
    FROM p GROUP BY source ORDER BY source
    """,
)
def q377_preference_pair_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_table(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        F.size(tokens("text")).cast("bigint").alias("n"),
        F.size(F.array_distinct(tokens("text"))).cast("bigint").alias("nd"),
    )
    # 100 TB note (shared with q302/q381): row_number over
    # partitionBy(source) is a per-source full sort — fine here because
    # the grouping is ordinal by spec (adjacent doc_ids pair up). Where
    # ordinal adjacency is NOT load-bearing, a bucketed `hash(doc_id)
    # % k` / `doc_id DIV k` grouping gives the same pair statistics
    # shuffle-free.
    w = Window.partitionBy("source").orderBy("doc_id")
    paired = t.select(
        "source", "n", "nd",
        F.row_number().over(w).alias("rn"),
        F.lead("n").over(w).alias("n_b"),
        F.lead("nd").over(w).alias("nd_b"),
    ).filter((F.col("rn") % 2 == 1) & F.col("n_b").isNotNull())
    a_chosen = F.col("nd") * F.col("n_b") >= F.col("nd_b") * F.col("n")
    p = paired.select(
        "source",
        F.when(a_chosen, F.col("n")).otherwise(F.col("n_b")).alias("chosen_n"),
        F.when(a_chosen, F.col("n_b")).otherwise(F.col("n")).alias("rejected_n"),
    )
    return (
        p.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.count_if(F.col("chosen_n") > F.col("rejected_n"))
            .cast("bigint")
            .alias("chosen_longer"),
            F.round(
                F.sum(F.col("chosen_n") - F.col("rejected_n")).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("mean_len_gap"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q378 — ES `geo_distance` aggregation (ring buckets): concentric
# distance ranges from the q235/q310 plane center (15.00, 15.00) on
# the synthetic integer lattice — the "how far are my customers"
# histogram. Ring membership compares EXACT squared lattice units
# against squared edge literals (no sqrt in the predicate); edges at
# 5, 10, 15 degrees (500/1000/1500 units).
#
# Shape (100 TB): scan-local key derivation + CASE ring + one
# map-combinable 4-group aggregate; same zero-shuffle-before-agg
# shape as the rest of the geo family.
# ---------------------------------------------------------------------------


@register(
    "q378_geo_distance_rings",
    oracle="""
    WITH pts AS (
      SELECT c_custkey, c_acctbal,
             (c_custkey * 7919) % 3000 AS ulat,
             (c_custkey * 104729) % 3000 AS ulon
      FROM customer),
    d AS (
      SELECT c_custkey, c_acctbal,
             (ulat - 1500) * (ulat - 1500)
               + (ulon - 1500) * (ulon - 1500) AS d2
      FROM pts),
    b AS (
      SELECT CASE WHEN d2 < 250000 THEN '*-5.0'
                  WHEN d2 < 1000000 THEN '5.0-10.0'
                  WHEN d2 < 2250000 THEN '10.0-15.0'
                  ELSE '15.0-*' END AS ring,
             c_acctbal
      FROM d)
    SELECT ring,
           CAST(COUNT(*) AS BIGINT) AS doc_count,
           ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2)
             AS acctbal_sum
    FROM b GROUP BY ring ORDER BY ring
    """,
)
def q378_geo_distance_rings(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    k = F.col("c_custkey")
    ulat = (k * 7919) % 3000
    ulon = (k * 104729) % 3000
    d2 = (ulat - 1500) * (ulat - 1500) + (ulon - 1500) * (ulon - 1500)
    ring = (
        F.when(d2 < 250000, "*-5.0")
        .when(d2 < 1000000, "5.0-10.0")
        .when(d2 < 2250000, "10.0-15.0")
        .otherwise("15.0-*")
    )
    return (
        cust.select(ring.alias("ring"), "c_acctbal")
        .groupBy("ring")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("doc_count"),
            F.round(
                F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double"), 2
            ).alias("acctbal_sum"),
        )
        .orderBy("ring")
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
# q380 — embedding isotropy audit (the "are my embeddings collapsing"
# pre-training check — Ethayarajh 2019-style): per label, the mean
# cosine of each vector to its label CENTROID. Near-1 means the label
# cluster has collapsed to a ray (anisotropic); the audit flags
# representation collapse before a retrieval model ships. Centroids
# are exact: per-dimension DECIMAL sums over ROUND(x,6) components,
# divided once and rounded to 8 — both engines fold the same numbers
# in the same order (explicit dim-sorted list rebuild).
#
# Shape (100 TB): one posexplode (64 rows/vec, scan-local) + one
# (label, dim)-keyed map-combinable aggregate; the |labels|-row
# centroid frame broadcast-joins back; per-row cosine is a JVM-side
# ordered fold; final |labels|-group aggregate. Nothing all-pairs —
# isotropy via centroid needs only two passes.
# ---------------------------------------------------------------------------


@register(
    "q380_embedding_isotropy",
    oracle="""
    WITH dims AS (
      SELECT label, u.d AS d,
             CAST(ROUND(CAST(embedding[u.d] AS DOUBLE), 6)
                  AS DECIMAL(18,6)) AS x
      FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(d)),
    cent AS (
      SELECT label, d,
             ROUND(CAST(SUM(x) AS DOUBLE) / COUNT(*), 8) AS c
      FROM dims GROUP BY label, d),
    carr AS (
      SELECT label, list(c ORDER BY d) AS cv FROM cent GROUP BY label),
    cos AS (
      SELECT e.label,
             CAST(ROUND(
               list_reduce(list_transform(range(1, len(e.embedding) + 1),
                 i -> CAST(e.embedding[i] AS DOUBLE) * carr.cv[i]),
                 (x, y) -> x + y)
               / (sqrt(list_reduce(list_transform(range(1, len(e.embedding) + 1),
                    i -> CAST(e.embedding[i] AS DOUBLE)
                         * CAST(e.embedding[i] AS DOUBLE)), (x, y) -> x + y))
                  * sqrt(list_reduce(list_transform(range(1, len(carr.cv) + 1),
                      i -> carr.cv[i] * carr.cv[i]), (x, y) -> x + y))),
               6) AS DECIMAL(18,6)) AS cc
      FROM embeddings e JOIN carr ON e.label = carr.label)
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           ROUND(CAST(SUM(cc) AS DOUBLE) / COUNT(*), 6) AS mean_centroid_cos
    FROM cos GROUP BY label ORDER BY label
    """,
)
def q380_embedding_isotropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import cosine

    e = load_table(spark, sf_dir, "embeddings").select("label", "embedding")
    dims = e.select(
        "label", F.posexplode("embedding").alias("d0", "x0")
    ).select(
        "label",
        (F.col("d0") + 1).alias("d"),
        F.round(F.col("x0").cast("double"), 6).cast("decimal(18,6)").alias("x"),
    )
    cent = dims.groupBy("label", "d").agg(
        F.round(F.sum("x").cast("double") / F.count(F.lit(1)), 8).alias("c")
    )
    carr = cent.groupBy("label").agg(
        F.expr("transform(sort_array(collect_list(struct(d, c))), s -> s.c)")
        .alias("cv")
    )
    cos = e.join(F.broadcast(carr), "label").select(
        "label",
        F.round(cosine(F.col("embedding"), F.col("cv")), 6)
        .cast("decimal(18,6)")
        .alias("cc"),
    )
    return (
        cos.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            F.round(F.sum("cc").cast("double") / F.count(F.lit(1)), 6).alias(
                "mean_centroid_cos"
            ),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# q381 — best-of-n (rejection-sampling) position-bias audit: candidate
# groups of 4 consecutive docs per source stand in for 4 samples from
# the same prompt; the "accepted" candidate is the type-token-ratio
# argmax (exact integer cross-multiply nd_i·n_j, ties to the earlier
# position). If acceptance is position-uniform (~25% each) the
# selection pipeline is order-blind; skew flags an ordering artifact —
# the standard sanity check before training on best-of-n outputs. Per
# position (1-4): groups won, win fraction, and the mean accepted TTR.
#
# Determinism: winner by integer cross-multiplication; TTRs
# ROUND(.,6) -> DECIMAL before the cross-row mean.
#
# Shape (100 TB): one window shuffle keyed by source (rn -> group id),
# one (source, group)-keyed 4-row-max aggregate via max_by over an
# exact integer sort key, one final 4-group aggregate. No self-join.
# ---------------------------------------------------------------------------


@register(
    "q381_best_of_n_audit",
    oracle=f"""
    WITH t AS (
      SELECT source, doc_id,
             CAST(len({TOKS_SQL}) AS BIGINT) AS n,
             CAST(len(list_distinct({TOKS_SQL})) AS BIGINT) AS nd
      FROM documents),
    w AS (
      SELECT source, doc_id, n, nd,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      FROM t),
    g AS (
      SELECT source, (rn - 1) // 4 AS grp,
             CAST((rn - 1) % 4 + 1 AS BIGINT) AS pos, n, nd
      FROM w),
    full_g AS (
      SELECT source, grp FROM g GROUP BY source, grp HAVING COUNT(*) = 4),
    win AS (
      -- argmax of nd/n per group: IEEE division of two bigints is
      -- correctly rounded and engine-identical, ties to earlier pos
      SELECT source, grp, pos AS sel_pos,
             -(neg_ttr) AS best_ttr
      FROM (
        SELECT g.source, g.grp, g.pos,
               -(CAST(nd AS DOUBLE) / n) AS neg_ttr,
               ROW_NUMBER() OVER (PARTITION BY g.source, g.grp
                 ORDER BY (CAST(nd AS DOUBLE) / n) DESC, g.pos ASC) AS rk
        FROM g JOIN full_g USING (source, grp))
      WHERE rk = 1)
    SELECT sel_pos AS position,
           CAST(COUNT(*) AS BIGINT) AS n_selected,
           ROUND(CAST(COUNT(*) AS DOUBLE)
                 / (SELECT COUNT(*) FROM win), 6) AS sel_frac,
           ROUND(CAST(SUM(CAST(ROUND(best_ttr, 6) AS DECIMAL(18,6)))
                      AS DOUBLE) / COUNT(*), 6) AS mean_sel_ttr
    FROM win GROUP BY sel_pos ORDER BY position
    """,
)
def q381_best_of_n_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_table(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        F.size(tokens("text")).cast("bigint").alias("n"),
        F.size(F.array_distinct(tokens("text"))).cast("bigint").alias("nd"),
    )
    # 100 TB note: per-source sort for ordinal 4-grouping (see q377's
    # comment) — grouping is ordinal by spec; use `doc_id DIV k` buckets
    # where adjacency isn't load-bearing.
    w = Window.partitionBy("source").orderBy("doc_id")
    g = t.select(
        "source", "n", "nd",
        F.row_number().over(w).alias("rn"),
    ).select(
        "source", "n", "nd",
        F.expr("(rn - 1) DIV 4").alias("grp"),
        F.expr("CAST((rn - 1) % 4 + 1 AS BIGINT)").alias("pos"),
    )
    win = (
        g.groupBy("source", "grp")
        .agg(
            F.count(F.lit(1)).alias("sz"),
            F.expr(
                "min_by(pos, struct(-(CAST(nd AS DOUBLE) / n), pos))"
            ).alias("sel_pos"),
            F.max(F.expr("CAST(nd AS DOUBLE) / n")).alias("best_ttr"),
        )
        .filter(F.col("sz") == 4)
        .select("sel_pos", "best_ttr")
    )
    tot = win.agg(F.count(F.lit(1)).alias("n_groups"))
    return (
        win.groupBy("sel_pos")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_selected"),
            F.round(
                F.sum(F.round(F.col("best_ttr"), 6).cast("decimal(18,6)"))
                .cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_sel_ttr"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("sel_pos").alias("position"),
            "n_selected",
            F.round(
                F.col("n_selected").cast("double") / F.col("n_groups"), 6
            ).alias("sel_frac"),
            "mean_sel_ttr",
        )
        .orderBy("position")
    )
