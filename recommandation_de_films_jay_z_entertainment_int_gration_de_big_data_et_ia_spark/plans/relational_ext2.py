"""Second extension batch: dedup materialization, subquery forms (the
engine's ``spark.sql`` entry path over temp views), string functions, and
an as-of join (SURVEY §2.4 notes the reference has none — a complete
engine ships one)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import NORM_SQL
from ..operators import dedup as D
from ..sources.readers import load_table
from .catalog import register


# ---------------------------------------------------------------------------
# q36 — dedup applied: materialize the deduplicated corpus (keep-first)
# ---------------------------------------------------------------------------
@register(
    "q36_dedup_apply",
    oracle=f"""
    WITH u AS (SELECT doc_id, text FROM documents
               UNION ALL SELECT doc_id + 10000, text FROM documents),
    survivors AS (
      SELECT MIN(doc_id) AS doc_id
      FROM u GROUP BY md5({NORM_SQL}))
    SELECT u.doc_id, strlen(u.text) AS n_bytes
    FROM u JOIN survivors s ON u.doc_id = s.doc_id
    """,
)
def q36_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    doubled = docs.unionAll(docs.select((F.col("doc_id") + 10000).alias("doc_id"), "text"))
    survivors = D.exact_dedup_groups(doubled, "doc_id", "text").select(
        F.col("survivor_id").alias("doc_id")
    )
    # keep-first realization: semi-join the corpus to its survivor ids
    return doubled.join(survivors, "doc_id", "left_semi").select(
        "doc_id", F.length(F.encode("text", "UTF-8")).cast("bigint").alias("n_bytes")
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
_Q56_SQL = """
SELECT o_orderkey, o_custkey,
       ROUND(CAST(CAST(o_totalprice AS DECIMAL(18,4)) AS DOUBLE), 2) AS price
FROM orders o
WHERE CAST(o_totalprice AS DECIMAL(18,4))
      * (SELECT COUNT(*) FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
      > 2 * (SELECT SUM(CAST(o3.o_totalprice AS DECIMAL(18,4)))
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
_Q133_SQL = """
SELECT n.n_name, t.c_custkey, ROUND(CAST(CAST(t.c_acctbal AS DECIMAL(18,4)) AS DOUBLE), 2) AS acctbal
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
