"""Table-maintenance operators: column profiling, CDC merge/upsert, table
diff, snapshot compaction, data-quality, reconciliation and k-anonymity
checks.

The reference maintains its movie corpus with overwrite-style Spark ETL
(`/root/reference/src/preprocessing.py:10-26`) and re-indexes the whole
set on every change; a large-scale deployment instead profiles tables to
catch drift and applies incremental change batches. Both operators here
are single-plan DataFrame compositions with exact DuckDB oracles.

Scale notes (100 TB):
- q112 profiles as a UNION of per-column aggregates, one branch per
  column. Counter-intuitively this beats the one-pass wide aggregate:
  multi-column exact COUNT(DISTINCT) in one agg makes Catalyst plan an
  Expand (rows duplicated once per distinct column) followed by a
  SortAggregate keyed on every profiled column — measured 6× slower at
  sf0.1 (10 s vs 1.6 s). The union's branches each scan ONLY their own
  column (parquet column pruning; ~1/n_cols of the table each), plan as
  two-phase HashAggregates with no sort, and run as parallel stages of
  one job. At continuous-profiling cadence swap exact distinct for
  approx_count_distinct (HLL, q55's pattern) and profiling returns to a
  genuine single pass.
- q113 is the MERGE core: changes ⟕⟖ base as ONE full outer join on the
  key — the same shape Delta/Iceberg MERGE lowers to after file pruning.
  The changes batch is typically ≪ base, so AQE broadcasts it; base is
  never shuffled in that regime. Deletes drop, updates coalesce, inserts
  pass through — all in one projection, no per-row logic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.readers import load_table
from .catalog import register
from .core import REVENUE_SQL, _revenue
from .timeseries import LATEST_PER_KEY_ORACLE

# ---------------------------------------------------------------------------
# q112 — column profile of lineitem: per column null count, exact
# distinct count, min/max rendered as strings (numerics via
# DECIMAL(18,2) so both engines print identically; the timestamp column
# via DATE ISO form).
# ---------------------------------------------------------------------------
_PROFILE_NUM = ("l_quantity", "l_extendedprice")
_PROFILE_KEY = ("l_orderkey",)
_PROFILE_STR = ("l_returnflag", "l_linestatus")
_PROFILE_TS = ("l_shipdate",)


def _num_s(sql_min_max: str, col: str) -> str:
    return f"CAST(CAST(ROUND({sql_min_max}({col}), 2) AS DECIMAL(18,2)) AS VARCHAR)"


def _profile_oracle() -> str:
    parts = []
    for c in _PROFILE_KEY:
        parts.append(
            f"SELECT '{c}' AS column_name, COUNT(*) - COUNT({c}) AS n_nulls,"
            f" COUNT(DISTINCT {c}) AS n_distinct,"
            f" CAST(MIN({c}) AS VARCHAR) AS min_s, CAST(MAX({c}) AS VARCHAR) AS max_s"
            " FROM lineitem"
        )
    for c in _PROFILE_NUM:
        parts.append(
            f"SELECT '{c}', COUNT(*) - COUNT({c}), COUNT(DISTINCT {c}),"
            f" {_num_s('MIN', c)}, {_num_s('MAX', c)} FROM lineitem"
        )
    for c in _PROFILE_STR:
        parts.append(
            f"SELECT '{c}', COUNT(*) - COUNT({c}), COUNT(DISTINCT {c}),"
            f" MIN({c}), MAX({c}) FROM lineitem"
        )
    for c in _PROFILE_TS:
        parts.append(
            f"SELECT '{c}', COUNT(*) - COUNT({c}), COUNT(DISTINCT CAST({c} AS DATE)),"
            f" CAST(MIN(CAST({c} AS DATE)) AS VARCHAR),"
            f" CAST(MAX(CAST({c} AS DATE)) AS VARCHAR) FROM lineitem"
        )
    sql = " UNION ALL ".join(parts)
    return f"SELECT column_name, CAST(n_nulls AS BIGINT) AS n_nulls, CAST(n_distinct AS BIGINT) AS n_distinct, min_s, max_s FROM ({sql})"


@register("q112_column_profile", oracle=_profile_oracle())
def q112_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")

    def branch(c: str, probe: F.Column, mn: F.Column, mx: F.Column) -> DataFrame:
        # one column per branch: the scan prunes to that column, and a
        # single-distinct aggregate plans as two-phase HashAggregate
        # (no Expand, no SortAggregate)
        return li.select(probe.alias("v")).agg(
            F.lit(c).alias("column_name"),
            (F.count(F.lit(1)) - F.count("v")).cast("bigint").alias("n_nulls"),
            F.countDistinct("v").cast("bigint").alias("n_distinct"),
            mn.alias("min_s"),
            mx.alias("max_s"),
        )

    frames = []
    for c in _PROFILE_KEY:
        frames.append(
            branch(c, F.col(c), F.min("v").cast("string"), F.max("v").cast("string"))
        )
    for c in _PROFILE_NUM:
        frames.append(
            branch(
                c,
                F.col(c),
                F.round(F.min("v"), 2).cast("decimal(18,2)").cast("string"),
                F.round(F.max("v"), 2).cast("decimal(18,2)").cast("string"),
            )
        )
    for c in _PROFILE_STR:
        frames.append(branch(c, F.col(c), F.min("v"), F.max("v")))
    for c in _PROFILE_TS:
        frames.append(
            branch(
                c,
                F.col(c).cast("date"),
                F.min("v").cast("string"),
                F.max("v").cast("string"),
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


# ---------------------------------------------------------------------------
# q113 — CDC merge (MERGE INTO semantics) on orders. The change batch is
# derived deterministically from the base table so the oracle replays it:
#   - U: o_orderkey % 7 = 0      -> totalprice + 10.0, same status
#   - D: o_orderkey % 13 = 0 (and % 7 <> 0)            -> delete
#   - I: key = -o_orderkey for o_orderkey % 11 = 0     -> brand-new rows
# Result = base MERGE changes: deletes drop, updates win over base,
# inserts append. The update is float ADDITION (exact, bit-identical in
# both engines) — no cross-engine rounding to defend.
# ---------------------------------------------------------------------------
_MERGE_CHANGES_SQL = """
    SELECT o_orderkey AS k, 'U' AS op,
           o_totalprice + 10.0 AS ch_price, o_orderstatus AS ch_status
    FROM orders WHERE o_orderkey % 7 = 0
    UNION ALL
    SELECT o_orderkey, 'D', NULL, NULL
    FROM orders WHERE o_orderkey % 13 = 0 AND o_orderkey % 7 <> 0
    UNION ALL
    SELECT -o_orderkey, 'I', o_totalprice, 'N'
    FROM orders WHERE o_orderkey % 11 = 0
"""


@register(
    "q113_merge_upsert",
    oracle=f"""
    WITH ch AS ({_MERGE_CHANGES_SQL}),
    base AS (SELECT o_orderkey AS k, o_totalprice AS price,
                    o_orderstatus AS status FROM orders)
    SELECT COALESCE(ch.k, base.k) AS o_orderkey,
           CASE WHEN ch.op IS NOT NULL THEN ch.ch_price ELSE base.price END AS o_totalprice,
           CASE WHEN ch.op IS NOT NULL THEN ch.ch_status ELSE base.status END AS o_orderstatus,
           CASE WHEN ch.op = 'I' THEN 'inserted'
                WHEN ch.op = 'U' THEN 'updated'
                ELSE 'kept' END AS merge_action
    FROM base FULL OUTER JOIN ch ON base.k = ch.k
    WHERE ch.op IS NULL OR ch.op <> 'D'
    """,
)
def q113_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import merge_cdc

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    updates = orders.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        F.lit("U").alias("op"),
        (F.col("o_totalprice") + F.lit(10.0)).alias("o_totalprice"),
        "o_orderstatus",
    )
    deletes = orders.filter(
        (F.col("o_orderkey") % 13 == 0) & (F.col("o_orderkey") % 7 != 0)
    ).select(
        "o_orderkey",
        F.lit("D").alias("op"),
        F.lit(None).cast("double").alias("o_totalprice"),
        F.lit(None).cast("string").alias("o_orderstatus"),
    )
    inserts = orders.filter(F.col("o_orderkey") % 11 == 0).select(
        (-F.col("o_orderkey")).alias("o_orderkey"),
        F.lit("I").alias("op"),
        "o_totalprice",
        F.lit("N").alias("o_orderstatus"),
    )
    changes = updates.unionByName(deletes).unionByName(inserts)
    return merge_cdc(orders, changes, key="o_orderkey")


# ---------------------------------------------------------------------------
# q119 — data-quality gate: declarative row constraints evaluated in ONE
# scan, reported as per-rule violation counts (the admission check a
# pipeline runs before letting a batch into the lake; rows failing any
# rule go to quarantine — same expressions, filter instead of count).
# All rules are plain column predicates -> one partial+final aggregate,
# no shuffle of the fact table.
# ---------------------------------------------------------------------------
_DQ_RULES: tuple[tuple[str, str], ...] = (
    ("quantity_positive", "l_quantity > 0"),
    ("discount_in_unit_range", "l_discount >= 0 AND l_discount <= 1"),
    ("shipdate_present", "l_shipdate IS NOT NULL"),
    ("returnflag_in_domain", "l_returnflag IN ('A', 'N', 'R')"),
    ("price_consistent", "l_extendedprice > 0"),
)


@register(
    "q119_quality_gate",
    oracle=" UNION ALL ".join(
        f"SELECT '{name}' AS rule, CAST(COUNT(*) FILTER (WHERE NOT ({pred})) AS BIGINT)"
        f" AS n_violations, CAST(COUNT(*) AS BIGINT) AS n_rows FROM lineitem"
        for name, pred in _DQ_RULES
    ),
)
def q119_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    aggs = []
    for name, pred in _DQ_RULES:
        aggs.append(
            F.sum(F.when(~F.expr(pred), 1).otherwise(0))
            .cast("bigint")
            .alias(f"{name}__v")
        )
    wide = li.agg(*aggs, F.count(F.lit(1)).cast("bigint").alias("__n"))
    stack_args = ", ".join(f"'{name}', `{name}__v`" for name, _ in _DQ_RULES)
    return wide.select(
        F.expr(f"stack({len(_DQ_RULES)}, {stack_args}) AS (rule, n_violations)"),
        F.col("__n").alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# q120 — equi-depth histogram: orders split into 10 equal-population
# buckets by o_totalprice (ntile over a deterministic total order), each
# bucket reporting population and value range. ntile's uneven-remainder
# rule (first buckets take the extra row) is identical in Spark and
# DuckDB, and the (price, orderkey) order is total, so bucketing is
# cross-engine exact.
#
# Shape note (100 TB): a global ntile funnels every row through ONE
# window partition — fine at audit scale, wrong for a fact table. The
# scale substitution is approx_percentile cut points (t-digest) + a
# broadcast range join of row→bucket, which keeps the scan parallel;
# documented here as the production variant of the same report.
# ---------------------------------------------------------------------------
@register(
    "q120_equidepth_histogram",
    oracle="""
    WITH t AS (
      SELECT o_totalprice,
             ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
      FROM orders)
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           MIN(o_totalprice) AS lo,
           MAX(o_totalprice) AS hi
    FROM t GROUP BY bucket
    """,
)
def q120_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    w = Window.orderBy("o_totalprice", "o_orderkey")
    return (
        orders.select("o_totalprice", F.ntile(10).over(w).cast("bigint").alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
    )


# ---------------------------------------------------------------------------
# q122 — Z-order layout audit: interleave the low 8 bits of
# (l_partkey % 256, l_suppkey % 256) into a Morton code, group rows into
# 256 z-contiguous file groups, and report each group's row count and
# per-dimension value ranges. This is the clustering key computation
# behind lake-maintenance OPTIMIZE ZORDER: rows z-sorted this way give
# 2-D locality, so a scan filtered on EITHER key prunes most groups
# (the audit's per-group min/max ranges ARE the pruning statistics).
# The interleave is pure div/mod arithmetic — identical in both engines,
# no engine-native bit intrinsics — so the oracle is exact.
#
# Shape (100 TB): the z-value is a scan-local projection; the grouping
# is one hash aggregate on an 8-bit key. The production write is
# `repartitionByRange(zgroup).sortWithinPartitions(z)` + parquet — same
# plan plus a range shuffle.
# ---------------------------------------------------------------------------
_Z_BITS = 8


def _z_sql(p: str, s: str) -> str:
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"(({p} // {1 << i}) % 2) * {2 * (4 ** i)}")
        terms.append(f"(({s} // {1 << i}) % 2) * {4 ** i}")
    return "(" + " + ".join(terms) + ")"


def _z_col(p: F.Column, s: F.Column) -> F.Column:
    z = F.lit(0)
    for i in range(_Z_BITS):
        z = z + ((p / (1 << i)).cast("bigint") % 2) * F.lit(2 * (4 ** i))
        z = z + ((s / (1 << i)).cast("bigint") % 2) * F.lit(4 ** i)
    return z


@register(
    "q122_zorder_layout",
    oracle=f"""
    WITH q AS (
      SELECT l_partkey % 256 AS px, l_suppkey % 256 AS sx FROM lineitem),
    z AS (SELECT px, sx, {_z_sql('px', 'sx')} // 256 AS zgroup FROM q)
    SELECT CAST(zgroup AS BIGINT) AS zgroup,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(px) AS BIGINT) AS px_lo, CAST(MAX(px) AS BIGINT) AS px_hi,
           CAST(MIN(sx) AS BIGINT) AS sx_lo, CAST(MAX(sx) AS BIGINT) AS sx_hi
    FROM z GROUP BY zgroup
    """,
)
def q122_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        (F.col("l_partkey") % 256).alias("px"), (F.col("l_suppkey") % 256).alias("sx")
    )
    z = li.select(
        "px", "sx", (_z_col(F.col("px"), F.col("sx")) / 256).cast("bigint").alias("zgroup")
    )
    return z.groupBy("zgroup").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.min("px").cast("bigint").alias("px_lo"),
        F.max("px").cast("bigint").alias("px_hi"),
        F.min("sx").cast("bigint").alias("sx_lo"),
        F.max("sx").cast("bigint").alias("sx_hi"),
    )


# ---------------------------------------------------------------------------
# q136 — schema-evolution union: two snapshots of the same logical table
# with drifted schemas (v1 lacks a column v2 added; v2 dropped one v1
# had) combined with unionByName(allowMissingColumns=True) — absent
# columns NULL-fill per row, the read-side half of schema evolution a
# lake table needs. The snapshots are derived deterministically from
# orders so the oracle replays the union as UNION ALL with explicit
# NULL columns.
# ---------------------------------------------------------------------------
@register(
    "q136_schema_evolution_union",
    oracle="""
    SELECT o_orderkey, 'v1' AS snapshot, o_totalprice, NULL AS o_orderpriority
    FROM orders WHERE o_orderkey % 2 = 0
    UNION ALL
    SELECT o_orderkey, 'v2', NULL, o_orderpriority
    FROM orders WHERE o_orderkey % 2 = 1
    """,
)
def q136_schema_evolution_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    v1 = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", F.lit("v1").alias("snapshot"), "o_totalprice"
    )
    v2 = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", F.lit("v2").alias("snapshot"), "o_orderpriority"
    )
    return v1.unionByName(v2, allowMissingColumns=True)


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


@register("q170_snapshot_compaction", oracle=LATEST_PER_KEY_ORACLE)
def q170_snapshot_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
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
    oracle=f"""
    WITH line_sum AS (
      SELECT l_orderkey,
             {REVENUE_SQL} AS net
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
    line_sum = li.groupBy("l_orderkey").agg(_revenue().alias("net"))
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
