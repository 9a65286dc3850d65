"""Core relational query catalog (SURVEY.md §2.1–§2.7).

Each query exercises one or more inventory operators on the driver's
TPC-H-ish testdata and carries a DuckDB oracle. Reference citations are in
the operator library (``operators/relational.py``); here we cite the
inventory IDs (S*/P*/F*/J*/A*/U*/N*/Q*).

The engine's wider relational surface lives here too: cube, grouping
sets and pivot, set and multiset operations, subqueries, salted
(skew-resistant) aggregation and joins, maps and JSON, bloom and
null-safe joins, skylines and dense id mapping.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import dec, dec_sql, exact_sum, exact_sum_sql
from ..functions.text import md5_hex_int_sql
from ..operators import relational as R
from ..sources.readers import load_table
from .catalog import register


def _revenue() -> F.Column:
    """The exact revenue sum: the product form of ``functions.exact``."""
    return F.sum(dec("l_extendedprice") * (dec(F.lit(1)) - dec("l_discount")))


REVENUE_SQL = f"SUM({dec_sql('l_extendedprice')} * ({dec_sql('1')} - {dec_sql('l_discount')}))"


# ---------------------------------------------------------------------------
# q01 — pricing summary (F2 filter + A2 grouped agg, TPC-H Q1 shape)
# ---------------------------------------------------------------------------
@register(
    "q01_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {exact_sum_sql("l_quantity", 2)} AS sum_qty,
           {exact_sum_sql("l_extendedprice", 2)} AS sum_base_price,
           ROUND(CAST({REVENUE_SQL} AS DOUBLE), 2) AS sum_disc_price,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    cutoff = F.lit("1998-09-02 00:00:00").cast(li.schema["l_shipdate"].dataType)
    return (
        li.filter(F.col("l_shipdate") <= cutoff)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            exact_sum("l_quantity", 2).alias("sum_qty"),
            exact_sum("l_extendedprice", 2).alias("sum_base_price"),
            F.round(_revenue().cast("double"), 2).alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# q02 — top customers by revenue (J1 joins + A2 agg + Q7 global top-k).
# Flagship query: the reference's core shape (join → aggregate → top-k,
# preprocessing.py:22 + model.py:13) on the testdata star schema.
# ---------------------------------------------------------------------------
@register(
    "q02_top_customers",
    oracle=f"""
    SELECT c.c_custkey, c.c_name,
           ROUND(CAST({REVENUE_SQL} AS DOUBLE), 2) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
                    JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, c.c_name
    ORDER BY revenue DESC, c_custkey ASC
    LIMIT 10
    """,
)
def q02_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    # Pre-aggregate lineitem per order BEFORE the orders join: map-side
    # partial agg collapses the ~4 items/order ahead of both shuffles
    # (join input and the custkey re-agg), cutting shuffle volume ~4x at
    # any scale. Decimal partial sums re-sum exactly, so the result is
    # bit-identical to the direct join+agg plan.
    per_order = li.groupBy("l_orderkey").agg(
        _revenue().alias("__rev"), F.count(F.lit(1)).alias("__n")
    )
    per_cust = (
        per_order.join(
            orders.select("o_orderkey", "o_custkey"), per_order.l_orderkey == orders.o_orderkey
        )
        .groupBy("o_custkey")
        .agg(F.round(F.sum("__rev").cast("double"), 2).alias("revenue"), F.sum("__n").alias("n_items"))
    )
    joined = R.join_broadcast_dim(
        per_cust, customer.select("c_custkey", "c_name"), on=[per_cust.o_custkey == customer.c_custkey]
    ).select("c_custkey", "c_name", "revenue", "n_items")
    return R.topk_global(joined, [F.desc("revenue"), F.asc("c_custkey")], 10)


# ---------------------------------------------------------------------------
# q03 — shipping priority (selective J1 + F2 on both sides + top-k)
# ---------------------------------------------------------------------------
@register(
    "q03_shipping_priority",
    oracle=f"""
    SELECT l.l_orderkey,
           ROUND(CAST({REVENUE_SQL} AS DOUBLE), 2) AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate, o.o_orderpriority
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l_orderkey ASC
    LIMIT 10
    """,
)
def q03_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cut = F.lit("1998-03-15 00:00:00").cast(orders.schema["o_orderdate"].dataType)
    orders = orders.filter(F.col("o_orderdate") < cut)
    li = li.filter(F.col("l_shipdate") > F.lit("1998-03-15 00:00:00").cast(li.schema["l_shipdate"].dataType))
    joined = R.join_broadcast_dim(
        li, R.semi_join(orders, cust, on=[orders.o_custkey == cust.c_custkey]).select(
            "o_orderkey", "o_orderdate", "o_orderpriority"
        ),
        on=[li.l_orderkey == F.col("o_orderkey")],
    )
    agg = joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority").agg(
        F.round(_revenue().cast("double"), 2).alias("revenue")
    )
    return R.topk_global(
        agg.select(
            "l_orderkey", "revenue", F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"), "o_orderpriority"
        ),
        [F.desc("revenue"), F.asc("l_orderkey")],
        10,
    )


# ---------------------------------------------------------------------------
# q05 — revenue by nation within a region (J1 chain over 5 tables;
# dims broadcast so the fact side never shuffles for the joins)
# ---------------------------------------------------------------------------
@register(
    "q05_region_nation_revenue",
    oracle=f"""
    SELECT n.n_name, ROUND(CAST({REVENUE_SQL} AS DOUBLE), 2) AS revenue
    FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    """,
)
def q05_region_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    dims = R.join_broadcast_dim(
        cust,
        R.join_broadcast_dim(nation, region, on=[nation.n_regionkey == region.r_regionkey]).select(
            "n_nationkey", "n_name"
        ),
        on=[cust.c_nationkey == F.col("n_nationkey")],
    ).select("c_custkey", "n_name")
    fact = li.join(orders, li.l_orderkey == orders.o_orderkey)
    joined = R.join_broadcast_dim(fact, dims, on=[F.col("o_custkey") == dims.c_custkey])
    return joined.groupBy("n_name").agg(F.round(_revenue().cast("double"), 2).alias("revenue"))


# ---------------------------------------------------------------------------
# q06 — projection / cast / literal / derived columns (P1–P6)
# ---------------------------------------------------------------------------
@register(
    "q06_project_cast",
    oracle="""
    SELECT p_partkey,
           UPPER(p_name) AS name_upper,
           CAST(p_size AS BIGINT) AS size_big,
           p_retailprice AS retail,
           'catalog' AS tag,
           p_size * 2 AS size_doubled
    FROM part
    WHERE p_size >= 10
    """,
)
def q06_project_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return (
        part.filter(F.col("p_size") >= 10)
        .select(
            "p_partkey",
            F.upper("p_name").alias("name_upper"),
            F.col("p_size").cast("bigint").alias("size_big"),
            F.col("p_retailprice").alias("retail"),
            F.lit("catalog").alias("tag"),
            (F.col("p_size") * 2).alias("size_doubled"),
        )
    )


# ---------------------------------------------------------------------------
# q07 — null-drop + predicate filter (F1 + F2)
# ---------------------------------------------------------------------------
@register(
    "q07_null_drop_filter",
    oracle=f"""
    SELECT event_type, COUNT(*) AS cnt,
           {exact_sum_sql("value", 2)} AS sum_value
    FROM events
    WHERE event_id IS NOT NULL AND ts IS NOT NULL AND user_id IS NOT NULL
      AND event_type IS NOT NULL AND value IS NOT NULL AND props IS NOT NULL
      AND value > 5.0
    GROUP BY event_type
    """,
)
def q07_null_drop_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = R.null_drop(load_table(spark, sf_dir, "events")).filter(F.col("value") > 5.0)
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("cnt"),
        exact_sum("value", 2).alias("sum_value"),
    )


# ---------------------------------------------------------------------------
# q08 — single-pass unpivot/melt (U1; replaces the reference's 18×
# filter+union anti-pattern, elasticsearch_ingest.py:48-61)
# ---------------------------------------------------------------------------
@register(
    "q08_unpivot",
    oracle="""
    SELECT p_partkey, 'p_size' AS attr, CAST(p_size AS DOUBLE) AS val FROM part
    UNION ALL
    SELECT p_partkey, 'p_retailprice' AS attr, CAST(p_retailprice AS DOUBLE) AS val FROM part
    """,
)
def q08_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_size").cast("double").alias("p_size"),
        F.col("p_retailprice").cast("double").alias("p_retailprice"),
    )
    return R.unpivot(part, ["p_partkey"], ["p_size", "p_retailprice"], "attr", "val")


# ---------------------------------------------------------------------------
# q09/q10 — semi / anti joins (free on Spark; SURVEY §2.4 note)
# ---------------------------------------------------------------------------
@register(
    "q09_semi_join",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
    """,
)
def q09_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    big = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return R.semi_join(cust, big, on=[cust.c_custkey == big.o_custkey]).select("c_custkey", "c_name")


@register(
    "q10_anti_join",
    oracle="""
    SELECT c_custkey, c_mktsegment FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def q10_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return R.anti_join(cust, orders, on=[cust.c_custkey == orders.o_custkey]).select(
        "c_custkey", "c_mktsegment"
    )


# ---------------------------------------------------------------------------
# q11 — grouped list-agg with deterministic ordering (A1/N5; reference
# collect_list at elasticsearch_ingest.py:65-67, array_sort per §7.3)
# ---------------------------------------------------------------------------
@register(
    "q11_collect_list",
    oracle="""
    SELECT c_nationkey, STRING_AGG(c_name, '|' ORDER BY c_name) AS names, COUNT(*) AS n
    FROM customer WHERE c_custkey <= 200
    GROUP BY c_nationkey
    """,
)
def q11_collect_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 200)
    agg = R.collect_list_sorted(cust, "c_nationkey", "c_name", "names_arr")
    cnt = cust.groupBy("c_nationkey").count()
    return (
        agg.join(cnt, "c_nationkey")
        .select("c_nationkey", F.concat_ws("|", "names_arr").alias("names"), F.col("count").alias("n"))
    )


# ---------------------------------------------------------------------------
# q12 — histogram-of-histogram (A2; reference num_genres histogram,
# elasticsearch_ingest.py:81)
# ---------------------------------------------------------------------------
@register(
    "q12_histogram",
    oracle="""
    SELECT n_orders, COUNT(*) AS n_customers
    FROM (SELECT o_custkey, COUNT(*) AS n_orders FROM orders GROUP BY o_custkey)
    GROUP BY n_orders
    """,
)
def q12_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n_orders"))
    return per_cust.groupBy("n_orders").agg(F.count(F.lit(1)).alias("n_customers"))


# ---------------------------------------------------------------------------
# q13 — explode + group + ranked top-k (N2 + A3; the ES `terms`
# aggregation shape, elasticsearch_ingest.py:158-163)
# ---------------------------------------------------------------------------
@register(
    "q13_explode_terms",
    oracle="""
    SELECT tok, COUNT(*) AS cnt
    FROM (SELECT UNNEST(STRING_SPLIT(p_name, ' ')) AS tok FROM part WHERE p_partkey >= 1)
    GROUP BY tok
    ORDER BY cnt DESC, tok ASC
    LIMIT 20
    """,
)
def q13_explode_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") >= 1)
    toks = part.select(F.explode(F.split("p_name", " ")).alias("tok"))
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    return R.topk_global(counts, [F.desc("cnt"), F.asc("tok")], 20)


# ---------------------------------------------------------------------------
# q14 — per-group top-k via window (Q7 generalized; model.py:13 shape)
# ---------------------------------------------------------------------------
@register(
    "q14_window_topk",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      FROM orders)
    WHERE rn <= 3
    """,
)
def q14_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    top = R.topk_per_group(
        orders, ["o_custkey"], [F.desc("o_totalprice"), F.asc("o_orderkey")], 3, rank_col="rn"
    )
    return top.select("o_custkey", "o_orderkey", "o_totalprice", F.col("rn").cast("bigint").alias("rn"))


# ---------------------------------------------------------------------------
# q15 — offset pagination with clamps (Q8; api.py:197-221)
# ---------------------------------------------------------------------------
@register(
    "q15_pagination",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 20 OFFSET 40
    """,
)
def q15_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    return R.paginate(orders, [F.desc("o_totalprice"), F.asc("o_orderkey")], page=3, size=20)


# ---------------------------------------------------------------------------
# q16 — rollup (extended surface, SURVEY §2.5 note)
# ---------------------------------------------------------------------------
@register(
    "q16_rollup",
    oracle="""
    SELECT COALESCE(r_name, 'ALL') AS region, COALESCE(n_name, 'ALL') AS nation,
           COUNT(*) AS n_customers
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
                    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP(r_name, n_name)
    """,
)
def q16_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    joined = R.join_broadcast_dim(
        R.join_broadcast_dim(cust, nation, on=[cust.c_nationkey == nation.n_nationkey]),
        region,
        on=[nation.n_regionkey == region.r_regionkey],
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region"),
            F.coalesce("n_name", F.lit("ALL")).alias("nation"),
            "n_customers",
        )
    )


# ---------------------------------------------------------------------------
# q17 — distinct (dedup-lite relational form)
# ---------------------------------------------------------------------------
@register(
    "q17_distinct",
    oracle="SELECT DISTINCT c_mktsegment, c_nationkey FROM customer",
)
def q17_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "customer").select("c_mktsegment", "c_nationkey").distinct()


# ---------------------------------------------------------------------------
# q18 — cube over two dims
# ---------------------------------------------------------------------------
@register(
    "q18_cube",
    oracle=f"""
    SELECT COALESCE(r_name, 'ALL') AS region, COALESCE(c_mktsegment, 'ALL') AS segment,
           COUNT(*) AS n, {exact_sum_sql("c_acctbal")} AS sum_bal
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
                    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY CUBE(r_name, c_mktsegment)
    """,
)
def q18_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    joined = R.join_broadcast_dim(
        R.join_broadcast_dim(cust, nation, on=[cust.c_nationkey == nation.n_nationkey]),
        region,
        on=[nation.n_regionkey == region.r_regionkey],
    )
    return (
        joined.cube("r_name", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            exact_sum("c_acctbal").alias("sum_bal"),
        )
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region"),
            F.coalesce("c_mktsegment", F.lit("ALL")).alias("segment"),
            "n",
            "sum_bal",
        )
    )


# ---------------------------------------------------------------------------
# q19 — intersect + except chain
# ---------------------------------------------------------------------------
@register(
    "q19_intersect_except",
    oracle="""
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_totalprice > 300000
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
)
def q19_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    building = cust.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey")
    )
    big = orders.filter(F.col("o_totalprice") > 300000).select(
        F.col("o_custkey").alias("c_custkey")
    )
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return building.intersect(big).subtract(urgent)


# ---------------------------------------------------------------------------
# q54 — pivot (wide conditional aggregation)
# ---------------------------------------------------------------------------
@register(
    "q54_pivot",
    oracle=f"""
    SELECT o_orderpriority,
           ROUND(CAST(SUM({dec_sql("o_totalprice")}) FILTER (WHERE o_orderstatus = 'F') AS DOUBLE), 2) AS F,
           ROUND(CAST(SUM({dec_sql("o_totalprice")}) FILTER (WHERE o_orderstatus = 'O') AS DOUBLE), 2) AS O,
           ROUND(CAST(SUM({dec_sql("o_totalprice")}) FILTER (WHERE o_orderstatus = 'P') AS DOUBLE), 2) AS P
    FROM orders GROUP BY o_orderpriority
    """,
)
def q54_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(exact_sum("o_totalprice", 2))
    )


def _views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)


# ---------------------------------------------------------------------------
# q56 — correlated scalar subquery (spark.sql path): orders above their
# customer's average order value
# ---------------------------------------------------------------------------
# Predicate "price > 2 × customer avg" is evaluated EXACTLY as
# price·count > 2·sum over decimals (float avg would be summation-order
# dependent and could flip boundary rows between engines).
_Q56_SQL = f"""
SELECT o_orderkey, o_custkey,
       ROUND(CAST({dec_sql("o_totalprice")} AS DOUBLE), 2) AS price
FROM orders o
WHERE {dec_sql("o_totalprice")}
      * (SELECT COUNT(*) FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
      > 2 * (SELECT SUM({dec_sql("o3.o_totalprice")})
             FROM orders o3 WHERE o3.o_custkey = o.o_custkey)
"""


@register("q56_scalar_subquery", oracle=_Q56_SQL)
def q56_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    _views(spark, sf_dir, "orders")
    return spark.sql(_Q56_SQL)


# ---------------------------------------------------------------------------
# q57 — IN / NOT IN subqueries (compiled to semi/anti joins by Catalyst)
# ---------------------------------------------------------------------------
@register(
    "q57_in_subquery",
    oracle="""
    SELECT p_partkey, p_name FROM part
    WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity >= 49)
      AND p_partkey NOT IN (SELECT l_partkey FROM lineitem WHERE l_discount > 0.09)
    """,
)
def q57_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    _views(spark, sf_dir, "part", "lineitem")
    return spark.sql(
        """
        SELECT p_partkey, p_name FROM part
        WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity >= 49)
          AND p_partkey NOT IN (SELECT l_partkey FROM lineitem WHERE l_discount > 0.09)
        """
    )


# ---------------------------------------------------------------------------
# q58 — string function surface
# ---------------------------------------------------------------------------
@register(
    "q58_string_functions",
    oracle="""
    SELECT p_partkey,
           UPPER(SUBSTR(p_name, 1, 3)) AS prefix,
           regexp_extract(p_brand, '[0-9]+', 0) AS brand_num,
           REPLACE(p_type, 'ECONOMY', 'ECO') AS type_short,
           CAST(LENGTH(p_name) AS BIGINT) AS name_len,
           CONCAT(p_brand, '/', p_type) AS brand_type,
           LPAD(CAST(p_size AS VARCHAR), 3, '0') AS size_padded
    FROM part WHERE p_partkey <= 500
    """,
)
def q58_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") <= 500)
    return part.select(
        "p_partkey",
        F.upper(F.substring("p_name", 1, 3)).alias("prefix"),
        F.regexp_extract("p_brand", "[0-9]+", 0).alias("brand_num"),
        F.replace(F.col("p_type"), F.lit("ECONOMY"), F.lit("ECO")).alias("type_short"),
        F.length("p_name").cast("bigint").alias("name_len"),
        F.concat_ws("/", "p_brand", "p_type").alias("brand_type"),
        F.lpad(F.col("p_size").cast("string"), 3, "0").alias("size_padded"),
    )


# ---------------------------------------------------------------------------
# q62 — skew-resistant two-phase aggregation (salting). Result is
# identical to a plain groupBy — the oracle proves it — only the shuffle
# distribution changes (hot keys spread over salt buckets).
# ---------------------------------------------------------------------------
@register(
    "q62_salted_agg",
    oracle=f"""
    SELECT l_returnflag AS flag,
           CAST(COUNT(*) AS BIGINT) AS n,
           {exact_sum_sql("l_quantity", 2)} AS total_qty,
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
        dec("l_quantity").alias("qty_dec"),
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
# q67 — skew-resistant salted join: replicate the (small) build side per
# salt bucket so one hot probe key spreads across salt_buckets reducers.
# Result identical to the plain join — the oracle proves it.
# ---------------------------------------------------------------------------
@register(
    "q67_salted_join",
    oracle=f"""
    SELECT o.o_orderpriority, COUNT(*) AS n,
           {exact_sum_sql("l.l_quantity", 2)} AS qty
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
        exact_sum("l_quantity", 2).alias("qty"),
    )


# ---------------------------------------------------------------------------
# q76 — array-function breadth: array_remove and when/otherwise are the
# two functions the reference imports but never calls
# (elasticsearch_ingest.py:2, SURVEY §2.7 N6) — the engine ships them,
# plus position/desc-sort/zip.
# ---------------------------------------------------------------------------
@register(
    "q76_array_functions",
    oracle="""
    WITH t AS (SELECT p_partkey, string_split(p_name, ' ') AS toks, p_size FROM part WHERE p_partkey <= 300)
    SELECT p_partkey,
           array_to_string(list_filter(toks, x -> x != 'small'), ',') AS no_small,
           CAST(COALESCE(list_position(toks, 'widget'), 0) AS BIGINT) AS widget_pos,
           array_to_string(list_sort(toks, 'DESC'), ',') AS toks_desc,
           CASE WHEN p_size >= 25 THEN 'large' WHEN p_size >= 10 THEN 'medium' ELSE 'small' END AS size_class
    FROM t
    """,
)
def q76_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") <= 300)
    toks = F.split("p_name", " ")
    return part.select(
        "p_partkey",
        F.concat_ws(",", F.array_remove(toks, "small")).alias("no_small"),
        F.array_position(toks, "widget").alias("widget_pos"),
        F.concat_ws(",", F.sort_array(toks, asc=False)).alias("toks_desc"),
        F.when(F.col("p_size") >= 25, "large")
        .when(F.col("p_size") >= 10, "medium")
        .otherwise("small")
        .alias("size_class"),
    )


# ---------------------------------------------------------------------------
# q77 — explicit GROUPING SETS (beyond rollup/cube): per-region totals,
# per-segment totals, and the grand total in one pass.
# ---------------------------------------------------------------------------
_Q77_SQL = """
SELECT COALESCE(r_name, '(all)') AS region, COALESCE(c_mktsegment, '(all)') AS segment,
       COUNT(*) AS n,
       CASE WHEN r_name IS NOT NULL THEN 'by_region'
            WHEN c_mktsegment IS NOT NULL THEN 'by_segment'
            ELSE 'total' END AS level
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
                JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY GROUPING SETS ((r_name), (c_mktsegment), ())
"""


@register("q77_grouping_sets", oracle=_Q77_SQL)
def q77_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    for t in ("customer", "nation", "region"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_Q77_SQL)


# ---------------------------------------------------------------------------
# q92 — join-key skew report: the heaviest keys and their share of the
# table. The pre-flight diagnostic for the 100 TB posture: a key with a
# double-digit share means the shuffle partition for that key becomes the
# straggler — route it to salted_join/salted_agg (q62/q67) or AQE skew
# handling. One partial-agg pass + a broadcast 1-row total.
# ---------------------------------------------------------------------------
@register(
    "q92_skew_report",
    oracle="""
    WITH counts AS (
      SELECT l_suppkey AS key, CAST(COUNT(*) AS BIGINT) AS n
      FROM lineitem GROUP BY l_suppkey),
    total AS (SELECT CAST(COUNT(*) AS BIGINT) AS total_rows FROM lineitem)
    SELECT key, n, ROUND(CAST(n AS DOUBLE) / CAST(total_rows AS DOUBLE), 6) AS share
    FROM counts CROSS JOIN total
    ORDER BY n DESC, key ASC
    LIMIT 10
    """,
)
def q92_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    counts = li.groupBy(F.col("l_suppkey").alias("key")).agg(
        F.count(F.lit(1)).alias("n")
    )
    total = li.agg(F.count(F.lit(1)).alias("total_rows"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "key",
            "n",
            F.round(F.col("n").cast("double") / F.col("total_rows").cast("double"), 6).alias(
                "share"
            ),
        )
        .orderBy(F.desc("n"), F.asc("key"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# q133 — LATERAL join (correlated table subquery): each nation's top-3
# customers by account balance, via a per-row correlated LIMIT — the SQL
# surface for "top-N per group" that Catalyst decorrelates into the same
# window plan the DataFrame API would build. Tie-broken on c_custkey so
# the LIMIT cut is deterministic in both engines.
# ---------------------------------------------------------------------------
_Q133_SQL = f"""
SELECT n.n_name, t.c_custkey, ROUND(CAST({dec_sql("t.c_acctbal")} AS DOUBLE), 2) AS acctbal
FROM nation n,
     LATERAL (SELECT c_custkey, c_acctbal FROM customer c
              WHERE c.c_nationkey = n.n_nationkey
              ORDER BY c_acctbal DESC, c_custkey ASC LIMIT 3) t
"""


@register("q133_lateral_topk", oracle=_Q133_SQL)
def q133_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    _views(spark, sf_dir, "nation", "customer")
    return spark.sql(_Q133_SQL)


# ---------------------------------------------------------------------------
# q134 — correlated EXISTS / NOT EXISTS (compiled to semi/anti joins):
# suppliers with at least one high-quantity line shipped and no
# discounted line — q57's membership semantics through the EXISTS
# surface (NULL-safe where NOT IN famously is not).
# ---------------------------------------------------------------------------
_Q134_SQL = """
SELECT s_suppkey, s_name FROM supplier s
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_suppkey = s.s_suppkey AND l.l_quantity >= 49)
  AND NOT EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_suppkey = s.s_suppkey AND l2.l_discount > 0.09)
"""


@register("q134_exists_subquery", oracle=_Q134_SQL)
def q134_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    _views(spark, sf_dir, "supplier", "lineitem")
    return spark.sql(_Q134_SQL)


# ---------------------------------------------------------------------------
# q151 — analytic-window suite: the full ranking/navigation family in one
# plan (rank, dense_rank, percent_rank, cume_dist, ntile, lag, lead,
# nth_value) over per-segment customer balances — the SQL surface a
# warehouse migration checks first. One shuffle on the partition key;
# values rounded to 6 dp so the rational percent_rank/cume_dist compare
# bit-identically.
# ---------------------------------------------------------------------------
_Q151_SQL = """
SELECT c_mktsegment, c_custkey,
       CAST(RANK() OVER w AS BIGINT) AS rnk,
       CAST(DENSE_RANK() OVER w AS BIGINT) AS drnk,
       ROUND(PERCENT_RANK() OVER w, 6) AS prnk,
       ROUND(CUME_DIST() OVER w, 6) AS cdist,
       CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
       LAG(c_custkey, 1, -1) OVER w AS prev_ck,
       LEAD(c_custkey, 1, -1) OVER w AS next_ck,
       NTH_VALUE(c_custkey, 3) OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS third_ck
FROM customer
WHERE c_acctbal > 9000
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
"""


@register("q151_window_suite", oracle=_Q151_SQL)
def q151_window_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(_Q151_SQL)


# ---------------------------------------------------------------------------
# q152 — multiset (bag) set operations: INTERSECT ALL / EXCEPT ALL keep
# per-row multiplicities (q19 covers the DISTINCT variants). Engine side
# uses DataFrame intersectAll/exceptAll; surfaced as value + an exact
# output-multiplicity count so the hash compare proves the bag
# semantics, not just membership.
# ---------------------------------------------------------------------------
@register(
    "q152_multiset_ops",
    oracle="""
    WITH ia AS (
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      INTERSECT ALL
      SELECT o_custkey FROM orders WHERE o_totalprice > 100000),
    ea AS (
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      EXCEPT ALL
      SELECT o_custkey FROM orders WHERE o_totalprice > 100000)
    SELECT 'intersect_all' AS op, o_custkey, COUNT(*) AS n FROM ia GROUP BY o_custkey
    UNION ALL
    SELECT 'except_all', o_custkey, COUNT(*) FROM ea GROUP BY o_custkey
    """,
)
def q152_multiset_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    f = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    big = orders.filter(F.col("o_totalprice") > 100000).select("o_custkey")
    ia = (
        f.intersectAll(big)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("intersect_all").alias("op"), "o_custkey", "n")
    )
    ea = (
        f.exceptAll(big)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("except_all").alias("op"), "o_custkey", "n")
    )
    return ia.unionAll(ea)


# ---------------------------------------------------------------------------
# q159 — NOT IN with NULLs (three-valued-logic trap): `k NOT IN
# (subquery)` is FALSE-or-UNKNOWN for EVERY row once the subquery
# returns a single NULL, so the naive anti-join rewrite is wrong. The
# catalog entry exercises both flavors side by side against a subquery
# that genuinely contains NULLs: NOT IN (empty result, by SQL
# semantics) vs NOT EXISTS (the null-safe rewrite users actually want).
# Catalyst plans NOT IN as NullAwareAntiJoin — the engine inherits the
# correct semantics from the optimizer rather than hand-rolling them.
# ---------------------------------------------------------------------------
_Q159_SQL = """
WITH probe AS (
  SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY'),
null_keys AS (
  SELECT CASE WHEN o_orderkey % 50 = 0 THEN NULL ELSE o_custkey END AS k
  FROM orders WHERE o_totalprice > 200000)
SELECT 'not_in' AS variant, COUNT(*) AS n FROM probe
WHERE c_custkey NOT IN (SELECT k FROM null_keys)
UNION ALL
SELECT 'not_exists', COUNT(*) FROM probe p
WHERE NOT EXISTS (SELECT 1 FROM null_keys nk WHERE nk.k = p.c_custkey)
"""


@register("q159_not_in_nulls", oracle=_Q159_SQL)
def q159_not_in_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    for t in ("customer", "orders"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_Q159_SQL)


# ---------------------------------------------------------------------------
# q162 — contribution / share-of-total analytics (ratio_to_report): each
# nation's revenue as a share of its region's total and of the grand
# total, plus its rank within the region. Exact decimal revenue sums;
# the shares are single-rounded integer-decimal ratios so both engines
# emit identical doubles. Shape: one fact aggregation (shuffle on
# nation), then window sums over the TINY nation-level rollup — the
# share windows never touch fact rows.
# ---------------------------------------------------------------------------
@register(
    "q162_revenue_contribution",
    oracle="""
    WITH rev AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             SUM(CAST(ROUND(o.o_totalprice, 2) AS DECIMAL(18,2))) AS rev
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY region, nation)
    SELECT region, nation,
           ROUND(CAST(rev AS DOUBLE), 2) AS rev,
           ROUND(CAST(rev AS DOUBLE) / CAST(SUM(rev) OVER (PARTITION BY region) AS DOUBLE), 6) AS region_share,
           ROUND(CAST(rev AS DOUBLE) / CAST(SUM(rev) OVER () AS DOUBLE), 6) AS total_share,
           CAST(RANK() OVER (PARTITION BY region ORDER BY rev DESC, nation) AS BIGINT) AS rank_in_region
    FROM rev
    """,
)
def q162_revenue_contribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    rev = (
        orders.join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(F.sum(F.round("o_totalprice", 2).cast("decimal(18,2)")).alias("rev"))
    )
    w_region = Window.partitionBy("region")
    w_all = Window.partitionBy()
    w_rank = Window.partitionBy("region").orderBy(F.col("rev").desc(), F.col("nation"))
    return rev.select(
        "region",
        "nation",
        F.round(F.col("rev").cast("double"), 2).alias("rev"),
        F.round(
            F.col("rev").cast("double") / F.sum("rev").over(w_region).cast("double"), 6
        ).alias("region_share"),
        F.round(
            F.col("rev").cast("double") / F.sum("rev").over(w_all).cast("double"), 6
        ).alias("total_share"),
        F.rank().over(w_rank).cast("bigint").alias("rank_in_region"),
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
