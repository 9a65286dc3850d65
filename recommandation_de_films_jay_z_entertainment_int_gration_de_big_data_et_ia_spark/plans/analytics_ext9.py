"""Round-10 catalog extensions — the last two ES DSL corners flagged by
the round-9 audit ("What's missing" 1-2):

- q400 ES ``parent`` aggregation: bucket on CHILD document fields, hop
  up to the join-based parent docs for sub-aggregation — the inverse of
  q333's ``children`` agg and the join-field sibling of q349's
  ``reverse_nested`` (which works on the nested layout).
- q401 ES ``intervals`` query, ``any_of`` + ``not_containing``: q318
  shipped ``all_of(ordered, max_gaps)``; this entry adds the
  alternation and filter halves of the intervals algebra with Lucene's
  minimal-interval semantics.

Reference context: both constructs ship in the ES 8.12 image the
reference stack deploys (reference docker-compose.yml:32 — the
Elasticsearch service backing src/api.py's search surface); with these
two, the agg-hierarchy family (has_child q264, has_parent q265, nested
q266, children q333, reverse_nested q349, parent q400) and the
intervals algebra (all_of q318, any_of/not_containing q401) are
complete. The remaining ES surface is declared out of scope in
SURVEY.md §2.8c (HNSW, semantic_text/inference, scroll-vs-PIT).

Determinism discipline (see catalog.py): q400 counts are BIGINT and its
one average goes through an exact DECIMAL(18,4) sum then a single
divide+round; q401 is pure integer position algebra — interval starts
are surfaced 0-based on both engines (DuckDB's 1-based lambda index is
corrected by an explicit ``- 1`` in the oracle; widths/gaps are
differences, so the offset cancels there).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.plan import with_once
from ..functions.text import TOKS_SQL, tokens
from ..sources.readers import load_table
from .catalog import register

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
    oracle="""
    WITH ch AS (
      SELECT l_linestatus AS linestatus, CAST(COUNT(*) AS BIGINT) AS n_children
      FROM lineitem GROUP BY 1),
    p AS (
      SELECT DISTINCT l_orderkey, l_linestatus FROM lineitem),
    pa AS (
      SELECT p.l_linestatus AS linestatus, o.o_orderstatus AS orderstatus,
             CAST(COUNT(*) AS BIGINT) AS parent_count,
             ROUND(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
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
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("avg_parent_price"),
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


# ---------------------------------------------------------------------------
# q401 — ES `intervals` query: `any_of` over two ordered two-term
# alternatives, filtered by `not_containing` a forbidden term.
#
# Semantics (Lucene minimal-interval algebra, made explicit so the
# oracle is exact):
#   1. per alternative (tA -> tB, ordered, max_gaps=G): candidate
#      intervals are [a, e(a)] with a in pos(tA) and e(a) the EARLIEST
#      pos(tB) > a (the greedy-earliest continuation, optimal for
#      ordered matching — the q318 argument), kept when the internal
#      gap e - a - 1 <= G;
#   2. per-alternative MINIMALITY: of candidates sharing an end, only
#      the latest start survives (Lucene iterators never emit an
#      interval containing another);
#   3. `any_of` = union of the alternatives' minimal sets, then
#      cross-alternative minimality (an interval strictly containing
#      another in the union is dropped);
#   4. `not_containing` tX: drop intervals [s, e] containing a position
#      of tX (s <= x <= e — a term's interval is the point [x, x]).
# Per matching doc we surface the surviving-interval count, the minimal
# width (e - s), and the earliest start (0-based).
#
# Determinism: pure integer position algebra; the two alternatives use
# disjoint term pairs, so the union holds no duplicate intervals and
# the strict-containment test is unambiguous. DuckDB's 1-based lambda
# index is corrected by `- 1` on the surfaced start (differences
# cancel elsewhere).
#
# Shape (100 TB): scan-local — position arrays, candidate building,
# minimality, and the filter are all row-local array lambdas over each
# document (per-doc interval counts are tiny: bounded by term
# frequency); the only shuffle is the display sort. The three
# with_once barriers (functions/plan.py, the q318/round-9 lesson) pin
# the position struct, the union array, and the filtered array to one
# evaluation each so Catalyst can't inline the chains into an
# interpreted Filter.
# ---------------------------------------------------------------------------
_IV2_ALT1 = ("scan", "merge")
_IV2_ALT2 = ("hash", "join")
_IV2_NOT = "filter"
_IV2_MAX_GAPS = 2


def _iv2_positions_sql(term: str) -> str:
    # (x, i) single-pass positions, the q299/q318 idiom; DuckDB i is
    # 1-based (corrected on output, cancels in differences).
    return (
        f"list_filter(list_transform(toks, (x, i) ->"
        f" CASE WHEN x = '{term}' THEN i ELSE -1 END), p -> p >= 0)"
    )


def _iv2_alt_sql(pa: str, pb: str) -> str:
    """Minimal ordered-pair intervals for one alternative (steps 1-2)."""
    cand = (
        f"list_filter(list_transform({pa}, a -> struct_pack(s := a,"
        f" e := COALESCE(list_min(list_filter({pb}, x -> x > a)), -1))),"
        f" c -> c.e >= 0 AND c.e - c.s - 1 <= {_IV2_MAX_GAPS})"
    )
    return (
        f"list_filter({cand}, c -> len(list_filter({cand},"
        f" d -> d.e = c.e AND d.s > c.s)) = 0)"
    )


_IV2_ORACLE = f"""
    WITH t AS (
      SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
    p AS (
      SELECT doc_id,
             {_iv2_positions_sql(_IV2_ALT1[0])} AS pa,
             {_iv2_positions_sql(_IV2_ALT1[1])} AS pb,
             {_iv2_positions_sql(_IV2_ALT2[0])} AS pc,
             {_iv2_positions_sql(_IV2_ALT2[1])} AS pd,
             {_iv2_positions_sql(_IV2_NOT)} AS px
      FROM t),
    u AS (
      SELECT doc_id, px,
             list_concat({_iv2_alt_sql('pa', 'pb')},
                         {_iv2_alt_sql('pc', 'pd')}) AS uu
      FROM p),
    m AS (
      SELECT doc_id,
             list_filter(
               list_filter(uu, c -> len(list_filter(uu,
                 o -> o.s >= c.s AND o.e <= c.e
                      AND (o.s <> c.s OR o.e <> c.e))) = 0),
               c -> len(list_filter(px,
                 x -> x >= c.s AND x <= c.e)) = 0) AS iv
      FROM u)
    SELECT doc_id,
           CAST(len(iv) AS BIGINT) AS n_intervals,
           CAST(list_min(list_transform(iv, c -> c.e - c.s)) AS BIGINT)
             AS min_width,
           CAST(list_min(list_transform(iv, c -> c.s)) - 1 AS BIGINT)
             AS first_start
    FROM m WHERE len(iv) > 0
    ORDER BY doc_id
"""


@register("q401_intervals_any_of", oracle=_IV2_ORACLE)
def q401_intervals_any_of(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("toks")
    )

    def positions(term: str) -> F.Column:
        return F.expr(
            f"filter(transform(toks, (x, i) -> IF(x = '{term}', i, -1)),"
            f" p -> p >= 0)"
        )

    p = with_once(
        docs,
        "ps",
        F.struct(
            positions(_IV2_ALT1[0]).alias("pa"),
            positions(_IV2_ALT1[1]).alias("pb"),
            positions(_IV2_ALT2[0]).alias("pc"),
            positions(_IV2_ALT2[1]).alias("pd"),
            positions(_IV2_NOT).alias("px"),
        ),
    )

    def alt(pa: F.Column, pb: F.Column) -> F.Column:
        cand = F.filter(
            F.transform(
                pa,
                lambda a: F.struct(
                    a.alias("s"),
                    F.coalesce(
                        F.array_min(F.filter(pb, lambda x: x > a)), F.lit(-1)
                    ).alias("e"),
                ),
            ),
            lambda c: (c["e"] >= 0)
            & (c["e"] - c["s"] - 1 <= F.lit(_IV2_MAX_GAPS)),
        )
        return F.filter(
            cand,
            lambda c: F.size(
                F.filter(cand, lambda d: (d["e"] == c["e"]) & (d["s"] > c["s"]))
            )
            == 0,
        )

    u = with_once(
        p,
        "uu",
        F.concat(
            alt(F.col("ps.pa"), F.col("ps.pb")),
            alt(F.col("ps.pc"), F.col("ps.pd")),
        ),
    )
    minimal = F.filter(
        F.col("uu"),
        lambda c: F.size(
            F.filter(
                F.col("uu"),
                lambda o: (o["s"] >= c["s"])
                & (o["e"] <= c["e"])
                & ((o["s"] != c["s"]) | (o["e"] != c["e"])),
            )
        )
        == 0,
    )
    filtered = F.filter(
        minimal,
        lambda c: F.size(
            F.filter(F.col("ps.px"), lambda x: (x >= c["s"]) & (x <= c["e"]))
        )
        == 0,
    )
    m = with_once(u, "iv", filtered)
    return (
        m.filter(F.size("iv") > 0)
        .select(
            "doc_id",
            F.size("iv").cast("bigint").alias("n_intervals"),
            F.array_min(
                F.transform(F.col("iv"), lambda c: c["e"] - c["s"])
            )
            .cast("bigint")
            .alias("min_width"),
            F.array_min(F.transform(F.col("iv"), lambda c: c["s"]))
            .cast("bigint")
            .alias("first_start"),
        )
        .orderBy("doc_id")
    )
