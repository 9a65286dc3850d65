"""Third extension batch: exact percentiles and event-funnel analytics."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import load_table
from .catalog import register


def lineitem_baskets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(l_orderkey, parts)``: each order's co-purchase basket, its
    sorted distinct ``l_partkey`` array (the oracles'
    ``list_sort(list_distinct(list(l_partkey)))``)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return li.groupBy("l_orderkey").agg(
        F.array_sort(F.array_distinct(F.collect_list("l_partkey"))).alias("parts")
    )


def basket_pairs(a: str = "a", b: str = "b") -> Column:
    """Every unordered pair of the sorted distinct array column ``parts``
    as an array of ``struct(x AS a, y AS b)`` with ``x < y``: element i
    pairs with the slice after it, so no pair is generated twice or
    filtered away."""
    return F.expr(
        "flatten(transform(parts, (a, i) ->"
        f" transform(slice(parts, i + 2, size(parts)), b -> struct(a AS {a}, b AS {b}))))"
    )


# The SQL side of ``lineitem_baskets`` and of ``basket_pairs`` exploded
# as ``(part_a, part_b)`` rows.
BASKETS_CTE = """baskets AS (
      SELECT l_orderkey, list_sort(list_distinct(list(l_partkey))) AS parts
      FROM lineitem GROUP BY l_orderkey)"""
BASKET_PAIRS_CTE = f"""{BASKETS_CTE},
    pairs AS (
      SELECT p1.part AS part_a, p2.part AS part_b
      FROM baskets, UNNEST(parts) AS p1(part), UNNEST(parts) AS p2(part)
      WHERE p1.part < p2.part)"""

# ---------------------------------------------------------------------------
# q60 — exact percentiles per group (Spark `percentile` ≡ DuckDB
# `quantile_cont`: both linearly interpolate at p·(n−1))
# ---------------------------------------------------------------------------
@register(
    "q60_percentiles",
    oracle="""
    SELECT o_orderstatus,
           ROUND(quantile_cont(o_totalprice, 0.25), 2) AS p25,
           ROUND(quantile_cont(o_totalprice, 0.50), 2) AS p50,
           ROUND(quantile_cont(o_totalprice, 0.75), 2) AS p75,
           COUNT(*) AS n
    FROM orders GROUP BY o_orderstatus
    """,
)
def q60_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.25)), 2).alias("p25"),
        F.round(F.percentile("o_totalprice", F.lit(0.50)), 2).alias("p50"),
        F.round(F.percentile("o_totalprice", F.lit(0.75)), 2).alias("p75"),
        F.count(F.lit(1)).alias("n"),
    )


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
# q62 — skew-resistant two-phase aggregation (salting). Result is
# identical to a plain groupBy — the oracle proves it — only the shuffle
# distribution changes (hot keys spread over salt buckets).
# ---------------------------------------------------------------------------
@register(
    "q62_salted_agg",
    oracle="""
    SELECT l_returnflag AS flag,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE), 2) AS total_qty,
           strftime(l_shipdate_max, '%Y-%m-%d') AS l_shipdate_max
    FROM (SELECT l_returnflag, l_quantity,
                 MAX(l_shipdate) OVER (PARTITION BY l_returnflag) AS l_shipdate_max
          FROM lineitem)
    GROUP BY flag, l_shipdate_max
    """,
)
def q62_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import salted_agg

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_quantity").cast("decimal(18,4)").alias("qty_dec"),
        "l_shipdate",
    )
    out = salted_agg(
        li,
        keys=["flag"],
        aggs={
            "n": ("flag", "count"),
            "total_qty_dec": ("qty_dec", "sum"),
            "l_shipdate_max": ("l_shipdate", "max"),
        },
        salt_buckets=8,
    )
    return out.select(
        "flag",
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("total_qty_dec").cast("double"), 2).alias("total_qty"),
        F.date_format("l_shipdate_max", "yyyy-MM-dd").alias("l_shipdate_max"),
    )


# ---------------------------------------------------------------------------
# q63 — map construction + element access (MapType surface; absent from
# the reference per SURVEY §1.2 but part of a complete engine)
# ---------------------------------------------------------------------------
@register(
    "q63_map_ops",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY event_type
    """,
)
def q63_map_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregates carried through a MapType column, then extracted —
    proves map construction/access round-trips values exactly."""
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events_raw"),
        F.countDistinct("user_id").alias("n_users_raw"),
    )
    mapped = agg.select(
        "event_type",
        F.map_from_arrays(
            F.array(F.lit("n_events"), F.lit("n_users")),
            F.array(F.col("n_events_raw"), F.col("n_users_raw")),
        ).alias("stats"),
    )
    return mapped.select(
        "event_type",
        F.element_at("stats", "n_events").alias("n_events"),
        F.element_at("stats", "n_users").alias("n_users"),
    )


# ---------------------------------------------------------------------------
# q64 — from_json / to_json round-trip (the §1.5 serving-edge JSON ops)
# ---------------------------------------------------------------------------
@register(
    "q64_json_roundtrip",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
           '{"k":' || json_extract_string(props, '$.k') || '}' AS props_norm
    FROM events WHERE event_id < 100
    """,
)
def q64_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 100)
    parsed = ev.select(
        "event_id", F.from_json("props", "k BIGINT").alias("p")
    )
    return parsed.select(
        "event_id",
        F.col("p.k").alias("k"),
        F.to_json("p").alias("props_norm"),
    )


# ---------------------------------------------------------------------------
# q65 — window frames: running total + lead/lag deltas per customer
# ---------------------------------------------------------------------------
@register(
    "q65_running_window",
    oracle="""
    SELECT o_custkey, o_orderkey,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
                 OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 2) AS running_total,
           CAST(LAG(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS prev_order
    FROM orders WHERE o_custkey <= 100
    """,
)
def q65_running_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 100)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).over(wf).cast("double"), 2
        ).alias("running_total"),
        F.lag("o_orderkey").over(w).cast("bigint").alias("prev_order"),
    )


# Drives the actual Structured Streaming path (readStream → watermarked
# tumbling agg → availableNow drain in COMPLETE mode) and returns the
# drained result as a batch frame. Complete mode emits every window, and
# since round 4 the streaming agg uses the exact-DECIMAL sum discipline,
# so the drained output is bit-identical to batch q44 — which is exactly
# the oracle below (q44 registers it too). The last rows-only streaming entry
# is retired; tests/test_streaming.py still proves the equivalence
# end-to-end.
TUMBLING_ORACLE = """
    SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start_s, event_type,
           COUNT(*) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_value
    FROM events
    GROUP BY window_start_s, event_type
    """


@register("q66_streaming_tumbling", oracle=TUMBLING_ORACLE)
def q66_streaming_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from ..streaming.windows import run_stream_to_memory, stream_events, tumbling_counts

    name = f"q66_sink_{uuid.uuid4().hex[:8]}"
    run_stream_to_memory(tumbling_counts(stream_events(spark, sf_dir)), name)
    return spark.table(name)


# ---------------------------------------------------------------------------
# q67 — skew-resistant salted join: replicate the (small) build side per
# salt bucket so one hot probe key spreads across salt_buckets reducers.
# Result identical to the plain join — the oracle proves it.
# ---------------------------------------------------------------------------
@register(
    "q67_salted_join",
    oracle="""
    SELECT o.o_orderpriority, COUNT(*) AS n,
           ROUND(CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,4))) AS DOUBLE), 2) AS qty
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def q67_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import salted_join

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    joined = salted_join(
        li, orders, left_key="l_orderkey", right_key="o_orderkey", salt_buckets=8
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(F.col("l_quantity").cast("decimal(18,4)")).cast("double"), 2).alias("qty"),
    )


# ---------------------------------------------------------------------------
# q71 — per-group z-score outliers. Mean/variance from exact decimal sums
# (order-independent), then identical double math on both engines.
# ---------------------------------------------------------------------------
@register(
    "q71_zscore_outliers",
    oracle="""
    WITH stats AS (
      SELECT event_type,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS s,
             CAST(SUM(CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sq
      FROM events GROUP BY event_type)
    SELECT e.event_id, e.event_type,
           ROUND((e.value - (s / n)) / sqrt((sq / n) - ((s / n) * (s / n))), 4) AS z
    FROM events e JOIN stats USING (event_type)
    WHERE abs((e.value - (s / n)) / sqrt((sq / n) - ((s / n) * (s / n)))) > 3.0
    """,
)
def q71_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    dec = F.col("value").cast("decimal(18,4)")
    stats = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(dec).cast("double").alias("s"),
        F.sum(dec * dec).cast("double").alias("sq"),
    )
    joined = ev.join(F.broadcast(stats), "event_type")
    mean = F.col("s") / F.col("n")
    z = (F.col("value") - mean) / F.sqrt((F.col("sq") / F.col("n")) - (mean * mean))
    return (
        joined.filter(F.abs(z) > 3.0)
        .select("event_id", "event_type", F.round(z, 4).alias("z"))
    )


# ---------------------------------------------------------------------------
# q72 — rank-distribution window functions + a RANGE frame (7-day
# trailing spend per customer)
# ---------------------------------------------------------------------------
@register(
    "q72_rank_distribution",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
           ROUND(PERCENT_RANK() OVER w, 4) AS pr,
           ROUND(CUME_DIST() OVER w, 4) AS cd,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
             PARTITION BY o_custkey ORDER BY date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
             RANGE BETWEEN 7 PRECEDING AND CURRENT ROW) AS DOUBLE), 2) AS spend_7d
    FROM orders
    WHERE o_custkey <= 50
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice ASC, o_orderkey ASC)
    """,
)
def q72_rank_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 50)
    w = Window.partitionBy("o_custkey").orderBy(F.asc("o_totalprice"), F.asc("o_orderkey"))
    epoch_days = F.datediff(F.col("o_orderdate"), F.lit("1970-01-01"))
    wr = Window.partitionBy("o_custkey").orderBy(epoch_days).rangeBetween(-7, 0)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
        F.round(F.percent_rank().over(w), 4).alias("pr"),
        F.round(F.cume_dist().over(w), 4).alias("cd"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,4)")).over(wr).cast("double"), 2).alias("spend_7d"),
    )


# ---------------------------------------------------------------------------
# q73 — market-basket co-occurrence: part pairs bought in the same order
# (collect per order, explode sorted pairs — no self-join), with support
# counts. The co-purchase signal an item-item recommender consumes.
# ---------------------------------------------------------------------------
@register(
    "q73_cooccurrence",
    oracle=f"""
    WITH {BASKET_PAIRS_CTE}
    SELECT part_a, part_b, COUNT(*) AS support
    FROM pairs GROUP BY part_a, part_b
    HAVING COUNT(*) >= 2
    """,
)
def q73_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = (
        lineitem_baskets(spark, sf_dir)
        .select(F.explode(basket_pairs("part_a", "part_b")).alias("p"))
        .select("p.part_a", "p.part_b")
    )
    return (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= 2)
    )


# ---------------------------------------------------------------------------
# q74 — vectorized Arrow scalar UDF (@pandas_udf): L2-normalize embeddings.
# The engine's second sanctioned Python boundary (besides mapInPandas) —
# Arrow-batched, numpy-vectorized, never per-row. Output rounded to 4 so
# numpy's pairwise summation and SQL's sequential fold agree.
# ---------------------------------------------------------------------------
@register(
    "q74_pandas_udf_normalize",
    oracle="""
    WITH e AS (SELECT vec_id, embedding AS v FROM embeddings WHERE vec_id < 100),
    n AS (SELECT vec_id, sqrt(list_reduce(list_transform(range(1, len(v)+1),
                 i -> CAST(v[i] AS DOUBLE) * CAST(v[i] AS DOUBLE)), (x, y) -> x + y)) AS nrm, v
          FROM e)
    SELECT vec_id,
           ROUND(CAST(v[1] AS DOUBLE) / nrm, 4) AS e0,
           ROUND(CAST(v[2] AS DOUBLE) / nrm, 4) AS e1,
           ROUND(nrm, 4) AS l2norm
    FROM n
    """,
)
def q74_pandas_udf_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _norm_head(v):
        arrs = np.stack([np.asarray(x, dtype="float64") for x in v])
        # sequential-fold norm to match the oracle's list_reduce exactly
        nrm = np.sqrt(np.add.reduce(arrs * arrs, axis=1))
        # raw values out; rounding happens in Spark (np.round is
        # half-even, SQL ROUND is half-away — a latent tie-flip)
        return pd.DataFrame(
            {"e0": arrs[:, 0] / nrm, "e1": arrs[:, 1] / nrm, "l2norm": nrm}
        )

    # Type-hint pandas UDF form (Series → DataFrame ≡ the old SCALAR
    # struct UDF, no deprecated PandasUDFType). Annotations are assigned
    # as REAL objects because `from __future__ import annotations`
    # stringifies inline hints and pd/np live in function scope, which
    # get_type_hints cannot resolve from module globals.
    _norm_head.__annotations__ = {"v": pd.Series, "return": pd.DataFrame}
    norm_head = pandas_udf(_norm_head, "struct<e0: double, e1: double, l2norm: double>")

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    out = emb.select("vec_id", norm_head("embedding").alias("s"))
    return out.select(
        "vec_id",
        F.round("s.e0", 4).alias("e0"),
        F.round("s.e1", 4).alias("e1"),
        F.round("s.l2norm", 4).alias("l2norm"),
    )


# ---------------------------------------------------------------------------
# q75 — item-item similarity recommender (deterministic collaborative
# filtering, the oracle-checkable counterpart of ALS): cosine over binary
# purchase vectors = support(a,b) / sqrt(pop(a)·pop(b)), top-3 neighbors
# per item. Pure count arithmetic — no factorization, no RNG.
# ---------------------------------------------------------------------------
@register(
    "q75_item_item_similarity",
    oracle=f"""
    WITH {BASKET_PAIRS_CTE},
    support AS (SELECT part_a, part_b, COUNT(*) AS sup FROM pairs GROUP BY part_a, part_b),
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
             CAST(ROW_NUMBER() OVER (PARTITION BY item ORDER BY sim DESC, neigh ASC) AS BIGINT) AS rn
      FROM scored)
    SELECT item, neigh, sim, rn FROM ranked WHERE rn <= 3
    """,
)
def q75_item_item_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # baskets feeds BOTH the pair explode and the popularity count, and
    # popularity derives from exploding the already-distinct parts
    # arrays — value-identical to DISTINCT(l_orderkey, l_partkey)
    # without a second full fact scan + distinct shuffle. DELIBERATELY
    # UNPINNED (r11 negative result, restated r12 after the comments
    # here had gone stale): lazy checkpoints on baskets/support measured
    # 2.97 -> 3.07 s because the consumers replay as PARALLEL stages of
    # one job — recompute overlaps for free, a pin only serializes. The
    # committed plan therefore shows the baskets subtree replayed per
    # consumer (4 lineitem scans), traded for zero materialization.
    baskets = lineitem_baskets(spark, sf_dir)
    support = (
        baskets.select(F.explode(basket_pairs("part_a", "part_b")).alias("p"))
        .select("p.part_a", "p.part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("sup"))
        .filter(F.col("sup") >= 2)
    )
    pop = (
        baskets.select(F.explode("parts").alias("part"))
        .groupBy("part").agg(F.count(F.lit(1)).alias("pop"))
    )
    sym = support.select(
        F.col("part_a").alias("item"), F.col("part_b").alias("neigh"), "sup"
    ).unionAll(
        support.select(F.col("part_b").alias("item"), F.col("part_a").alias("neigh"), "sup")
    )
    pa = pop.select(F.col("part").alias("item"), F.col("pop").alias("pop_a"))
    pb = pop.select(F.col("part").alias("neigh"), F.col("pop").alias("pop_b"))
    scored = (
        sym.join(F.broadcast(pa), "item")
        .join(F.broadcast(pb), "neigh")
        .select(
            "item",
            "neigh",
            F.round(
                F.col("sup").cast("double")
                / F.sqrt(F.col("pop_a").cast("double") * F.col("pop_b").cast("double")),
                4,
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("item").orderBy(F.desc("sim"), F.asc("neigh"))
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= 3)
        .select("item", "neigh", "sim", "rn")
    )


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
# q116 — robust outliers by median absolute deviation (q71's z-score uses
# mean/stddev, which outliers themselves corrupt; MAD is the robust
# variant every monitoring pipeline keeps alongside). Exact interpolated
# medians (Spark `percentile` == DuckDB `quantile_cont`, both (n-1)
# linear interpolation); deviations and the 3×MAD gate are rounded to
# 6 dp so the boundary decision is cross-engine identical.
#
# Shape (100 TB): two grouped exact-percentile passes (each one shuffle
# on event_type) + a broadcast join of the tiny per-type stats back onto
# the stream. At monitoring cadence swap exact percentile for
# approx_percentile (t-digest) and the second pass becomes mergeable.
# ---------------------------------------------------------------------------
@register(
    "q116_mad_outliers",
    oracle="""
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type),
    dev AS (
      SELECT e.event_type, ROUND(abs(e.value - m.med), 6) AS d
      FROM events e JOIN med m USING (event_type)),
    mad AS (
      SELECT event_type, quantile_cont(d, 0.5) AS mad FROM dev GROUP BY event_type)
    SELECT d.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(*) FILTER (WHERE d.d > ROUND(3 * m.mad, 6)) AS BIGINT) AS n_outliers,
           ROUND(MAX(d.d), 6) AS max_dev
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY d.event_type
    """,
)
def q116_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(F.percentile("value", 0.5).alias("med"))
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", F.round(F.abs(F.col("value") - F.col("med")), 6).alias("d")
    )
    mad = dev.groupBy("event_type").agg(F.percentile("d", 0.5).alias("mad"))
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(
                F.when(F.col("d") > F.round(3 * F.col("mad"), 6), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
            F.round(F.max("d"), 6).alias("max_dev"),
        )
    )


# ---------------------------------------------------------------------------
# q121 — mergeable quantile sketch (KLL): per-priority p50/p90/p99 of
# o_totalprice from kll_sketch_agg. The 100 TB shape for percentiles:
# sketches build in one partial+final pass and MERGE across partitions /
# days / tables (exact percentile does not merge; q60 is the exact
# counterpart). KLL compaction is randomized, so the estimates
# themselves can't hash-match a SQL oracle — but the PUBLISHED rank
# bound can: both sides emit the group's exact stats plus a boolean that
# each sketch estimate's empirical rank (count(v <= est)/n, computed
# Spark-side against the data) sits within ±0.05 of its target quantile
# — 3× the documented ~1.65% rank error of k=200, so the flag is stable
# across compaction randomness; the oracle asserts the inequality as
# literal TRUE. Exact quantiles ride along (quantile_cont ≡ percentile,
# proven by q60) so the hash still covers real values.
# ---------------------------------------------------------------------------
_KLL_EPS = 0.05


@register(
    "q121_kll_quantile_sketch",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(quantile_cont(o_totalprice, 0.50), 2) AS p50_exact,
           ROUND(quantile_cont(o_totalprice, 0.90), 2) AS p90_exact,
           ROUND(quantile_cont(o_totalprice, 0.99), 2) AS p99_exact,
           TRUE AS sketch_rank_ok
    FROM orders GROUP BY o_orderpriority
    """,
)
def q121_kll_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", F.col("o_totalprice").cast("double").alias("v")
    )
    sk = orders.groupBy("o_orderpriority").agg(
        F.kll_sketch_agg_double("v").alias("sk"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.percentile("v", F.lit(0.50)), 2).alias("p50_exact"),
        F.round(F.percentile("v", F.lit(0.90)), 2).alias("p90_exact"),
        F.round(F.percentile("v", F.lit(0.99)), 2).alias("p99_exact"),
    )
    est = sk.select(
        "o_orderpriority",
        "n",
        "p50_exact",
        "p90_exact",
        "p99_exact",
        F.kll_sketch_get_quantile_double(F.col("sk"), F.lit(0.50)).alias("__e50"),
        F.kll_sketch_get_quantile_double(F.col("sk"), F.lit(0.90)).alias("__e90"),
        F.kll_sketch_get_quantile_double(F.col("sk"), F.lit(0.99)).alias("__e99"),
    )
    # empirical rank of each estimate, against the data itself (one
    # extra pass over orders; the estimates broadcast onto it)
    ranks = (
        orders.join(F.broadcast(est.select("o_orderpriority", "__e50", "__e90", "__e99")), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            (F.sum((F.col("v") <= F.col("__e50")).cast("long")) / F.count(F.lit(1))).alias("__r50"),
            (F.sum((F.col("v") <= F.col("__e90")).cast("long")) / F.count(F.lit(1))).alias("__r90"),
            (F.sum((F.col("v") <= F.col("__e99")).cast("long")) / F.count(F.lit(1))).alias("__r99"),
        )
    )
    ok = (
        (F.abs(F.col("__r50") - 0.50) <= _KLL_EPS)
        & (F.abs(F.col("__r90") - 0.90) <= _KLL_EPS)
        & (F.abs(F.col("__r99") - 0.99) <= _KLL_EPS)
    )
    return (
        est.join(F.broadcast(ranks), "o_orderpriority")
        .select(
            "o_orderpriority", "n", "p50_exact", "p90_exact", "p99_exact",
            ok.alias("sketch_rank_ok"),
        )
    )


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
# q125 — theta-sketch set algebra: distinct users per event_type as
# mergeable theta sketches, then UNION / INTERSECTION / DIFFERENCE
# estimates across types — the sketch family's answer to "overlap of
# audiences" without re-scanning (HLL q55 gives only distinct counts;
# theta adds set operations). Below the sketch's nominal-entries bound
# (2^12 = 4096) theta runs in exact mode, so at the driver's correctness
# scale (sf0.01, ~1k distinct users) every estimate equals the exact
# count and the query carries a full DuckDB oracle; the rank-error
# property at arbitrary scale is separately asserted in
# tests/test_properties.py.
# ---------------------------------------------------------------------------
@register(
    "q125_theta_set_ops",
    oracle="""
    SELECT 'view_users' AS set_name,
           CAST((SELECT COUNT(DISTINCT user_id) FROM events WHERE event_type = 'view') AS BIGINT) AS est
    UNION ALL
    SELECT 'click_users',
           CAST((SELECT COUNT(DISTINCT user_id) FROM events WHERE event_type = 'click') AS BIGINT)
    UNION ALL
    SELECT 'view_or_click',
           CAST((SELECT COUNT(DISTINCT user_id) FROM events
                 WHERE event_type IN ('view', 'click')) AS BIGINT)
    UNION ALL
    SELECT 'view_and_click',
           CAST((SELECT COUNT(*) FROM (
              SELECT DISTINCT user_id FROM events WHERE event_type = 'view'
              INTERSECT
              SELECT DISTINCT user_id FROM events WHERE event_type = 'click')) AS BIGINT)
    UNION ALL
    SELECT 'view_not_click',
           CAST((SELECT COUNT(*) FROM (
              SELECT DISTINCT user_id FROM events WHERE event_type = 'view'
              EXCEPT
              SELECT DISTINCT user_id FROM events WHERE event_type = 'click')) AS BIGINT)
    """,
)
def q125_theta_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    sk = (
        ev.filter(F.col("event_type").isin("view", "click"))
        .groupBy("event_type")
        .agg(F.expr("theta_sketch_agg(user_id)").alias("sk"))
    )
    one = sk.groupBy().pivot("event_type", ["view", "click"]).agg(F.first("sk"))
    return one.selectExpr(
        """stack(5,
           'view_users',     CAST(theta_sketch_estimate(view) AS BIGINT),
           'click_users',    CAST(theta_sketch_estimate(click) AS BIGINT),
           'view_or_click',  CAST(theta_sketch_estimate(theta_union(view, click)) AS BIGINT),
           'view_and_click', CAST(theta_sketch_estimate(theta_intersection(view, click)) AS BIGINT),
           'view_not_click', CAST(theta_sketch_estimate(theta_difference(view, click)) AS BIGINT)
        ) AS (set_name, est)"""
    )


# ---------------------------------------------------------------------------
# q126 — PageRank (3 fixed iterations, d=0.85) over the co-purchase
# graph: parts are nodes, orders' basket pairs are (undirected) edges —
# the iterative-numeric-algorithm shape (vs dedup_clusters' iterative
# set algebra). Deterministic cross-engine: every per-edge contribution
# pr(u)/deg(u) is rounded to DECIMAL(28,10) BEFORE the neighbor sum
# (exact, order-independent), and each iteration's rank is recomposed
# with identically-parenthesized double math; fixed iteration count so
# the oracle is a plain CTE chain, no recursion.
#
# Shape (100 TB): the rank/degree vector is per-NODE (≪ edges), so each
# iteration BROADCASTS it into the edges join — the edge list is never
# shuffled; the only per-iteration shuffle is the contribution
# groupBy(dst). Degrees ride inside the rank frame (one join per
# iteration, not two). Measured 2.4× over the shuffle-join variant at
# sf0.1 (4.7 s vs 11.3 s warm). At web-scale node counts (rank vector
# exceeding executor memory) drop the broadcast hints and AQE falls
# back to shuffle joins — the plan shape otherwise stands. N rides as a
# broadcast 1-row frame, never a driver value.
# ---------------------------------------------------------------------------
# Damping + teleport as SEPARATE literals (not 1 - _PR_D, which is
# 0.15000000000000002 in binary float): both the oracle f-string and the
# Spark expressions reference these, so editing them edits both engines.
_PR_D = 0.85
_PR_TELEPORT = 0.15
_PR_ITERS = 3


def _pr_oracle() -> str:
    pair_cte = f"""
    {BASKETS_CTE},
    pairs AS (
      SELECT DISTINCT p1.part AS a, p2.part AS b
      FROM baskets, UNNEST(parts) AS p1(part), UNNEST(parts) AS p2(part)
      WHERE p1.part < p2.part),
    edges AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
    deg AS (SELECT a AS node, COUNT(*) AS d FROM edges GROUP BY a),
    n AS (SELECT COUNT(*) AS n FROM deg),
    pr0 AS (SELECT node, 1.0 / n.n AS pr FROM deg CROSS JOIN n)
    """
    iters = []
    for k in range(_PR_ITERS):
        iters.append(f"""
    c{k} AS (
      SELECT e.b AS node,
             CAST(ROUND(p.pr / deg.d, 10) AS DECIMAL(28,10)) AS c
      FROM edges e JOIN pr{k} p ON e.a = p.node JOIN deg ON e.a = deg.node),
    pr{k+1} AS (
      SELECT s.node, ({_PR_TELEPORT} / n.n) + ({_PR_D} * CAST(s.sc AS DOUBLE)) AS pr
      FROM (SELECT node, SUM(c) AS sc FROM c{k} GROUP BY node) s CROSS JOIN n)
    """)
    return (
        "WITH " + pair_cte + "," + ",".join(iters)
        + f"""
    SELECT CAST(node AS BIGINT) AS node, ROUND(pr, 8) AS pagerank
    FROM pr{_PR_ITERS} ORDER BY pagerank DESC, node ASC LIMIT 20
    """
    )


@register("q126_pagerank_copurchase", oracle=_pr_oracle())
def q126_pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    baskets = lineitem_baskets(spark, sf_dir)
    pairs = (
        baskets.select(F.explode(basket_pairs()).alias("p"))
        .select("p.a", "p.b")
        .distinct()
        # Lineage pin (guide §3.3 "materialise an intermediate to truncate
        # the plan", q215's lazy-checkpoint pattern): `pairs` feeds the
        # edge union, which feeds deg AND every iteration's contribution
        # join — and each iteration's broadcast of `pr` re-embeds the
        # whole prior lineage, so the basket-explode + distinct subtree
        # appeared 8x in a 286-node physical plan (plans/r11/
        # q126_pagerank_copurchase_before.txt). One shared RDD computes
        # the subtree once; nothing executes at plan-build time.
        .localCheckpoint(eager=False)
    )
    edges = pairs.unionByName(pairs.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = (
        edges.groupBy(F.col("a").alias("node"))
        .agg(F.count(F.lit(1)).alias("d"))
        # deg is re-read by pr0 and by every iteration's rank recompose
        # (3 broadcasts) — pin the small (node, d) frame too.
        .localCheckpoint(eager=False)
    )
    n = deg.agg(F.count(F.lit(1)).alias("n"))
    pr = deg.crossJoin(F.broadcast(n)).select(
        "node", "d", (F.lit(1.0) / F.col("n")).alias("pr")
    )
    for _ in range(_PR_ITERS):
        contribs = edges.join(F.broadcast(pr), edges["a"] == pr["node"]).select(
            F.col("b").alias("node"),
            F.round(F.col("pr") / F.col("d"), 10).cast("decimal(28,10)").alias("c"),
        )
        pr = (
            contribs.groupBy("node")
            .agg(F.sum("c").alias("sc"))
            .join(F.broadcast(deg), "node")
            .crossJoin(F.broadcast(n))
            .select(
                "node",
                "d",
                (
                    (F.lit(_PR_TELEPORT) / F.col("n"))
                    + (F.lit(_PR_D) * F.col("sc").cast("double"))
                ).alias("pr"),
            )
        )
    return (
        pr.select(F.col("node").cast("bigint").alias("node"), F.round("pr", 8).alias("pagerank"))
        .orderBy(F.col("pagerank").desc(), F.col("node").asc())
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q139 — CUPED variance reduction for experiment metrics (the standard
# pre-experiment-covariate adjustment): per user, x = pre-period metric
# (sum of 'view' values), y = experiment metric (sum of 'purchase'
# values); per synthetic arm (user_id % 2), theta = cov(x,y)/var(x) from
# EXACT decimal moment sums (q131's discipline: 6-rounded decimal
# values, integer×decimal products — order-independent, bit-identical
# across engines), then var(y - theta·(x - x̄)) and the achieved
# reduction, all derived from the same six sums with identical
# parenthesization in both engines. One shuffle on user_id, one on arm.
# ---------------------------------------------------------------------------
@register(
    "q139_cuped_adjustment",
    oracle="""
    WITH u AS (
      SELECT user_id,
             SUM(CASE WHEN event_type = 'view'
                 THEN CAST(ROUND(value, 6) AS DECIMAL(18,6)) END) AS x,
             SUM(CASE WHEN event_type = 'purchase'
                 THEN CAST(ROUND(value, 6) AS DECIMAL(18,6)) END) AS y
      FROM events GROUP BY user_id),
    p AS (SELECT user_id % 2 AS arm, x, y FROM u
          WHERE x IS NOT NULL AND y IS NOT NULL),
    s AS (SELECT arm, COUNT(*) AS n,
                 SUM(x) AS sx, SUM(y) AS sy,
                 SUM(x * x) AS sxx, SUM(x * y) AS sxy, SUM(y * y) AS syy
          FROM p GROUP BY arm),
    t AS (SELECT arm, CAST(n AS BIGINT) AS n,
                 CAST(n AS DOUBLE) AS nd,
                 CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
                 CAST(sxx AS DOUBLE) AS sxxd, CAST(sxy AS DOUBLE) AS sxyd,
                 CAST(syy AS DOUBLE) AS syyd,
                 (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS theta
          FROM s)
    SELECT arm, n,
           ROUND(syd / nd, 6) AS mean_y,
           ROUND((syyd / nd) - (syd / nd) * (syd / nd), 8) AS var_y,
           ROUND(((syyd - 2 * theta * sxyd + theta * theta * sxxd) / nd)
                 - ((syd - theta * sxd) / nd) * ((syd - theta * sxd) / nd), 8) AS var_cuped,
           ROUND(theta, 8) AS theta
    FROM t
    """,
)
def q139_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    dec = lambda c: F.round(c, 6).cast("decimal(18,6)")  # noqa: E731
    u = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "view", dec(F.col("value")))).alias("x"),
        F.sum(F.when(F.col("event_type") == "purchase", dec(F.col("value")))).alias("y"),
    )
    p = u.filter(F.col("x").isNotNull() & F.col("y").isNotNull()).select(
        (F.col("user_id") % 2).alias("arm"), "x", "y"
    )
    s = p.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    nd = F.col("n").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxxd, sxyd, syyd = (
        F.col("sxx").cast("double"),
        F.col("sxy").cast("double"),
        F.col("syy").cast("double"),
    )
    t = s.select(
        "arm",
        F.col("n").cast("bigint").alias("n"),
        nd.alias("nd"),
        sxd.alias("sxd"),
        syd.alias("syd"),
        sxxd.alias("sxxd"),
        sxyd.alias("sxyd"),
        syyd.alias("syyd"),
        ((nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd)).alias("theta"),
    )
    th = F.col("theta")
    return t.select(
        "arm",
        "n",
        F.round(F.col("syd") / F.col("nd"), 6).alias("mean_y"),
        F.round(
            (F.col("syyd") / F.col("nd"))
            - (F.col("syd") / F.col("nd")) * (F.col("syd") / F.col("nd")),
            8,
        ).alias("var_y"),
        F.round(
            ((F.col("syyd") - 2 * th * F.col("sxyd") + th * th * F.col("sxxd")) / F.col("nd"))
            - ((F.col("syd") - th * F.col("sxd")) / F.col("nd"))
            * ((F.col("syd") - th * F.col("sxd")) / F.col("nd")),
            8,
        ).alias("var_cuped"),
        F.round(th, 8).alias("theta"),
    )


# ---------------------------------------------------------------------------
# q146 — triangle counting over the support-pruned co-purchase graph
# (q126's basket pairs, kept only when two parts co-occur in >= 2
# orders). Canonical a<b<c orientation: each triangle is materialized
# exactly once by joining the ordered edge list to itself twice
# (e1(a,b) ⋈ e2(b,c) ⋈ e3(a,c)), then per-node participation counts.
# Output: top-20 nodes by triangle membership.
#
# Shape (100 TB): the support threshold is the degree bound — it prunes
# the quadratic tail of popular nodes BEFORE the self-joins (the same
# role as dedup's max_bucket cap); the ordered orientation halves the
# edge list and removes all duplicate/rotated triangles without a
# post-hoc distinct. Two shuffles (self-join keys), no iteration.
# ---------------------------------------------------------------------------
_TRI_MIN_SUP = 2


@register(
    "q146_triangle_count",
    oracle=f"""
    WITH {BASKETS_CTE},
    pairs AS (
      SELECT p1.part AS a, p2.part AS b, COUNT(*) AS sup
      FROM baskets, UNNEST(parts) AS p1(part), UNNEST(parts) AS p2(part)
      WHERE p1.part < p2.part GROUP BY a, b),
    edges AS (SELECT a, b FROM pairs WHERE sup >= {_TRI_MIN_SUP}),
    tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM edges e1 JOIN edges e2 ON e1.b = e2.a
           JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b),
    nodes AS (
      SELECT x AS node FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri)
    SELECT node, COUNT(*) AS n_triangles
    FROM nodes GROUP BY node
    ORDER BY n_triangles DESC, node ASC LIMIT 20
    """,
)
def q146_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    baskets = lineitem_baskets(spark, sf_dir)
    edges = (
        baskets.select(F.explode(basket_pairs()).alias("p"))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("sup"))
        .filter(F.col("sup") >= _TRI_MIN_SUP)
        .select("a", "b")
    )
    e1 = edges.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = edges.select(F.col("a").alias("y"), F.col("b").alias("z"))
    e3 = edges.select(F.col("a").alias("x"), F.col("b").alias("z"))
    tri = e1.join(e2, "y").join(e3, ["x", "z"])
    nodes = (
        tri.select(F.col("x").alias("node"))
        .unionAll(tri.select(F.col("y").alias("node")))
        .unionAll(tri.select(F.col("z").alias("node")))
    )
    return (
        nodes.groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
        .orderBy(F.desc("n_triangles"), F.asc("node"))
        .limit(20)
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
# q157 — decile calibration curve (the model-prep binning every ranking /
# propensity pipeline builds): users are bucketed into equal-frequency
# deciles by their total 'view' spend, and each decile reports its user
# count, exact decimal spend mean, and purchase-conversion rate. ntile
# over one grouped pass + a conditional aggregate — two shuffles total.
# Rates are ROUND()ed from integer ratios so both engines emit identical
# doubles.
# ---------------------------------------------------------------------------
@register(
    "q157_calibration_deciles",
    oracle="""
    WITH u AS (
      SELECT user_id,
             SUM(CASE WHEN event_type = 'view'
                 THEN CAST(ROUND(value, 6) AS DECIMAL(18,6)) ELSE CAST(0 AS DECIMAL(18,6)) END) AS spend,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
      FROM events GROUP BY user_id),
    b AS (SELECT user_id, spend, converted,
                 NTILE(10) OVER (ORDER BY spend DESC, user_id) AS decile
          FROM u)
    SELECT CAST(decile AS BIGINT) AS decile, COUNT(*) AS n_users,
           ROUND(CAST(SUM(spend) AS DOUBLE) / COUNT(*), 6) AS avg_spend,
           ROUND(CAST(SUM(converted) AS DOUBLE) / COUNT(*), 6) AS conversion_rate
    FROM b GROUP BY decile
    """,
)
def q157_calibration_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    dec6 = F.round(F.col("value"), 6).cast("decimal(18,6)")
    u = ev.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("event_type") == "view", dec6).otherwise(F.lit(0).cast("decimal(18,6)"))
        ).alias("spend"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("converted"),
    )
    w = Window.orderBy(F.col("spend").desc(), F.col("user_id"))
    b = u.withColumn("decile", F.ntile(10).over(w))
    return b.groupBy(F.col("decile").cast("bigint").alias("decile")).agg(
        F.count(F.lit(1)).alias("n_users"),
        F.round(F.sum("spend").cast("double") / F.count(F.lit(1)), 6).alias("avg_spend"),
        F.round(F.sum("converted").cast("double") / F.count(F.lit(1)), 6).alias(
            "conversion_rate"
        ),
    )


# ---------------------------------------------------------------------------
# q158 — table diff (snapshot reconciliation, the data-eng "what changed
# between loads" tool): snapshot A = orders as-is; snapshot B = a
# deterministic mutation (rows with key % 101 == 0 dropped; status
# flipped to 'X' for key % 97 == 0; keys shifted by +10M appended for
# key % 103 == 0). One full-outer join on the key comparing a row
# fingerprint (md5 of the '|'-joined business columns) classifies every
# key as added / removed / changed / unchanged; output is the per-class
# count plus min/max affected key — the audit summary a 100 TB
# reconciliation job would emit (the join is the only shuffle; row
# fingerprints are scan-local).
# ---------------------------------------------------------------------------
_DIFF_FP = "md5(CAST(o_orderkey AS VARCHAR) || '|' || o_orderstatus || '|' || CAST(ROUND(o_totalprice, 2) AS VARCHAR))"


@register(
    "q158_table_diff",
    oracle=f"""
    WITH a AS (
      SELECT o_orderkey AS k, {_DIFF_FP} AS fp FROM orders),
    b_base AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 97 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
             o_totalprice
      FROM orders WHERE o_orderkey % 101 <> 0),
    b_added AS (
      SELECT o_orderkey + 10000000 AS o_orderkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 103 = 0),
    b_all AS (SELECT * FROM b_base UNION ALL SELECT * FROM b_added),
    b AS (SELECT o_orderkey AS k, {_DIFF_FP} AS fp FROM b_all),
    d AS (
      SELECT COALESCE(a.k, b.k) AS k,
             CASE WHEN a.k IS NULL THEN 'added'
                  WHEN b.k IS NULL THEN 'removed'
                  WHEN a.fp <> b.fp THEN 'changed'
                  ELSE 'unchanged' END AS class
      FROM a FULL OUTER JOIN b ON a.k = b.k)
    SELECT class, COUNT(*) AS n, MIN(k) AS min_key, MAX(k) AS max_key
    FROM d GROUP BY class
    """,
)
def q158_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )

    def fingerprint(df: DataFrame) -> DataFrame:
        fp = F.md5(
            F.concat_ws(
                "|",
                F.col("o_orderkey").cast("string"),
                F.col("o_orderstatus"),
                F.round("o_totalprice", 2).cast("string"),
            )
        )
        return df.select(F.col("o_orderkey").alias("k"), fp.alias("fp"))

    a = fingerprint(orders)
    b_base = orders.filter(F.col("o_orderkey") % 101 != 0).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 97 == 0, F.lit("X"))
        .otherwise(F.col("o_orderstatus"))
        .alias("o_orderstatus"),
        "o_totalprice",
    )
    b_added = orders.filter(F.col("o_orderkey") % 103 == 0).select(
        (F.col("o_orderkey") + 10000000).alias("o_orderkey"), "o_orderstatus", "o_totalprice"
    )
    b = fingerprint(b_base.unionAll(b_added))
    d = (
        a.select(F.col("k").alias("ak"), F.col("fp").alias("afp"))
        .join(
            b.select(F.col("k").alias("bk"), F.col("fp").alias("bfp")),
            F.col("ak") == F.col("bk"),
            "full_outer",
        )
        .select(
            F.coalesce("ak", "bk").alias("k"),
            F.when(F.col("ak").isNull(), "added")
            .when(F.col("bk").isNull(), "removed")
            .when(F.col("afp") != F.col("bfp"), "changed")
            .otherwise("unchanged")
            .alias("class"),
        )
    )
    return d.groupBy("class").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("k").alias("min_key"),
        F.max("k").alias("max_key"),
    )


# ---------------------------------------------------------------------------
# q161 — k-hop reachability (bounded graph traversal, the BFS cousin of
# q126's PageRank and q146's triangles): from the smallest node of the
# support-pruned co-purchase graph, every node reachable in <= 3 hops
# with its minimal hop count. Fixed-depth frontier expansion — one
# edges-join + dedupe per hop, the iterative-join shape that replaces
# recursive CTEs on Spark; the oracle chains the same three expansions
# as plain CTEs. Frontier/visited frames stay node-sized (<< edges).
# ---------------------------------------------------------------------------
_KHOP_EDGE_CTE = f"""
    {BASKETS_CTE},
    pairs AS (
      SELECT p1.part AS a, p2.part AS b, COUNT(*) AS sup
      FROM baskets, UNNEST(parts) AS p1(part), UNNEST(parts) AS p2(part)
      WHERE p1.part < p2.part GROUP BY a, b),
    dedges AS (SELECT a, b FROM pairs WHERE sup >= {_TRI_MIN_SUP}),
    edges AS (SELECT a, b FROM dedges UNION SELECT b, a FROM dedges)
"""


@register(
    "q161_khop_reachability",
    oracle=f"""
    WITH {_KHOP_EDGE_CTE},
    seed AS (SELECT MIN(a) AS s FROM edges),
    h1 AS (SELECT DISTINCT e.b AS node FROM edges e JOIN seed ON e.a = seed.s),
    h2 AS (
      SELECT DISTINCT e.b AS node FROM edges e JOIN h1 ON e.a = h1.node
      WHERE e.b NOT IN (SELECT s FROM seed) AND e.b NOT IN (SELECT node FROM h1)),
    h3 AS (
      SELECT DISTINCT e.b AS node FROM edges e JOIN h2 ON e.a = h2.node
      WHERE e.b NOT IN (SELECT s FROM seed)
        AND e.b NOT IN (SELECT node FROM h1)
        AND e.b NOT IN (SELECT node FROM h2))
    SELECT node, 1 AS hops FROM h1
    UNION ALL SELECT node, 2 FROM h2
    UNION ALL SELECT node, 3 FROM h3
    """,
)
def q161_khop_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    baskets = lineitem_baskets(spark, sf_dir)
    directed = (
        baskets.select(F.explode(basket_pairs()).alias("p"))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("sup"))
        .filter(F.col("sup") >= _TRI_MIN_SUP)
        .select("a", "b")
    )
    edges = directed.unionAll(
        directed.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct()
    edges = edges.localCheckpoint()  # truncate lineage before iteration
    seed = edges.groupBy().agg(F.min("a").alias("node"))
    visited = seed
    out = None
    frontier = seed
    for hop in (1, 2, 3):
        frontier = (
            edges.join(
                frontier.select(F.col("node").alias("a")), "a"
            )
            .select(F.col("b").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
        )
        labeled = frontier.select("node", F.lit(hop).alias("hops"))
        out = labeled if out is None else out.unionAll(labeled)
        visited = visited.unionAll(frontier.select("node"))
    return out


# ---------------------------------------------------------------------------
# q169 — association rules over co-purchase baskets (support /
# confidence / lift — the market-basket completion of q73/q146): for
# every ordered item pair with support >= 2, confidence = sup(a,b) /
# sup(a) and lift = N·sup(a,b) / (sup(a)·sup(b)). All ratios are
# single-rounded integer divisions, so cross-engine doubles match.
# Top-20 rules by lift. Shape: the q126 basket-pair explode + one
# broadcast join of per-item supports — never all-pairs.
# ---------------------------------------------------------------------------
@register(
    "q169_association_rules",
    oracle=f"""
    WITH {BASKETS_CTE},
    n AS (SELECT COUNT(*) AS n_baskets FROM baskets),
    item AS (
      SELECT u.part AS item, COUNT(*) AS sup_i
      FROM baskets, UNNEST(parts) AS u(part) GROUP BY u.part),
    pair AS (
      SELECT p1.part AS a, p2.part AS b, COUNT(*) AS sup
      FROM baskets, UNNEST(parts) AS p1(part), UNNEST(parts) AS p2(part)
      WHERE p1.part < p2.part GROUP BY a, b HAVING COUNT(*) >= {_TRI_MIN_SUP})
    SELECT a, b, CAST(sup AS BIGINT) AS sup,
           ROUND(CAST(sup AS DOUBLE) / ia.sup_i, 6) AS confidence,
           ROUND(CAST(n.n_baskets AS DOUBLE) * sup / (ia.sup_i * ib.sup_i), 6) AS lift
    FROM pair JOIN item ia ON pair.a = ia.item
              JOIN item ib ON pair.b = ib.item
              CROSS JOIN n
    ORDER BY lift DESC, a ASC, b ASC LIMIT 20
    """,
)
def q169_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    baskets = lineitem_baskets(spark, sf_dir)
    n = baskets.groupBy().agg(F.count(F.lit(1)).alias("n_baskets"))
    item = (
        baskets.select(F.explode("parts").alias("item"))
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("sup_i"))
    )
    pair = (
        baskets.select(F.explode(basket_pairs()).alias("p"))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("sup"))
        .filter(F.col("sup") >= _TRI_MIN_SUP)
    )
    ia = item.select(F.col("item").alias("a"), F.col("sup_i").alias("sup_a"))
    ib = item.select(F.col("item").alias("b"), F.col("sup_i").alias("sup_b"))
    return (
        pair.join(F.broadcast(ia), "a")
        .join(F.broadcast(ib), "b")
        .crossJoin(F.broadcast(n))
        .select(
            "a",
            "b",
            F.col("sup").cast("bigint").alias("sup"),
            F.round(F.col("sup").cast("double") / F.col("sup_a"), 6).alias("confidence"),
            F.round(
                F.col("n_baskets").cast("double") * F.col("sup")
                / (F.col("sup_a") * F.col("sup_b")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), F.asc("a"), F.asc("b"))
        .limit(20)
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


@register("q170_snapshot_compaction", oracle=LATEST_PER_KEY_ORACLE)
def q170_snapshot_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            F.col("event_id").alias("last_event_id"),
            (F.unix_micros("ts") / 1000000).cast("bigint").alias("last_ts_s"),
            F.round("value", 6).alias("last_value"),
        )
    )
