"""Positional queries: Elasticsearch's span and intervals families.

span_near, span_not, span_or/near, span_containing, span_within,
span_multi, intervals and intervals any_of, all evaluated over each
document's token positions with a DuckDB oracle of the same matches.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.plan import with_once
from ..functions.text import TOKS_SQL, tokens
from ..sources.readers import load_table
from .catalog import register


def token_positions(toks: str, term: str) -> Column:
    """0-based positions of ``term`` in the token-array column ``toks``,
    from one ``(x, i)`` pass (never ``element_at`` per index, which
    re-evaluates the split after projection collapse). SQL twin:
    ``token_positions_sql``."""
    return F.expr(f"filter(transform({toks}, (x, i) -> IF(x = '{term}', i, -1)), p -> p >= 0)")


def token_positions_sql(toks: str, term: str) -> str:
    """DuckDB twin of ``token_positions``. DuckDB's lambda index is
    1-based, so positions are one higher; differences agree."""
    return (
        f"list_filter(list_transform({toks}, (x, i) ->"
        f" CASE WHEN x = '{term}' THEN i ELSE -1 END), p -> p >= 0)"
    )


# ---------------------------------------------------------------------------
# q299 — ES `span_near` query (in_order=false, slop=3) for two term
# spans `hash` and `join`: a doc matches when some occurrence pair sits
# within 3 intervening positions in EITHER order (the ordered variant
# is q22/q250's phrase machinery; span_first is q278). Surfaces the
# best (minimum) position gap and the number of qualifying pairs.
#
# Positions come from an indexed array transform (Spark 0-based,
# DuckDB 1-based — the offset cancels in position differences).
#
# Shape (100 TB): scan-local array math per row — the pair set is
# per-doc occurrence counts (bounded by doc length), never a join.
# ---------------------------------------------------------------------------
_SPAN_A = "hash"
_SPAN_B = "join"
_SPAN_SLOP = 3


@register(
    "q299_span_near",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             {TOKS_SQL} AS tk
      FROM documents),
    pos AS (
      SELECT doc_id,
             {token_positions_sql('tk', _SPAN_A)} AS pa,
             {token_positions_sql('tk', _SPAN_B)} AS pb
      FROM t),
    pairs AS (
      SELECT doc_id,
             flatten(list_transform(pa, x ->
               list_transform(pb, y -> abs(x - y) - 1))) AS gaps
      FROM pos WHERE len(pa) > 0 AND len(pb) > 0)
    SELECT doc_id,
           CAST(list_min(gaps) AS BIGINT) AS best_gap,
           CAST(len(list_filter(gaps, g -> g <= {_SPAN_SLOP})) AS BIGINT)
             AS n_pairs_within
    FROM pairs WHERE list_min(gaps) <= {_SPAN_SLOP}
    ORDER BY doc_id
    """,
)
def q299_span_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("tk")
    )
    # with_once barriers (functions/plan.py, the q318 lesson): single
    # evaluation for the position arrays and the gap list; otherwise
    # pb inlines inside the per-x lambda and gaps re-evaluates in the
    # best_gap filter.
    pos = with_once(
        docs,
        "ps",
        F.struct(
            token_positions("tk", _SPAN_A).alias("pa"), token_positions("tk", _SPAN_B).alias("pb")
        ),
    ).filter((F.size("ps.pa") > 0) & (F.size("ps.pb") > 0))
    gaps = F.expr(
        "flatten(transform(ps.pa, x -> transform(ps.pb, y -> abs(x - y) - 1)))"
    )
    g = with_once(pos, "gaps", gaps)
    return (
        g.select(
            "doc_id",
            F.array_min("gaps").cast("bigint").alias("best_gap"),
            F.size(F.filter(F.col("gaps"), lambda d: d <= F.lit(_SPAN_SLOP)))
            .cast("bigint")
            .alias("n_pairs_within"),
        )
        .filter(F.col("best_gap") <= _SPAN_SLOP)
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# q318 — ES `intervals` query, `all_of(ordered: true, max_gaps: G)` over
# three terms: a document matches when positions pa < pb < pc exist with
# total internal gap (pc - pa - 2 for 3 terms) <= G; we also surface the
# MINIMAL gap certificate. For ordered interval matching the greedy
# earliest-next-position certificate starting at each pa is optimal, so
# min_gaps = min over pa of (first pc after the first pb after pa) - pa - 2.
#
# Determinism: pure integer position arithmetic; absent continuations
# coalesce to a shared sentinel before the array-min on both engines.
#
# Shape (100 TB): scan-local — the three position arrays and the nested
# greedy fold all live inside one projection over each document; no
# shuffle except the final display sort.
# ---------------------------------------------------------------------------
_IV_TERMS = ("scan", "filter", "merge")
_IV_MAX_GAPS = 4
_IV_SENTINEL = 1_000_000_000


@register(
    "q318_intervals_query",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
    p AS (
      SELECT doc_id,
             {token_positions_sql('toks', _IV_TERMS[0])} AS pa,
             {token_positions_sql('toks', _IV_TERMS[1])} AS pb,
             {token_positions_sql('toks', _IV_TERMS[2])} AS pc
      FROM t),
    g AS (
      SELECT doc_id,
             list_min(list_transform(pa, a ->
               COALESCE(
                 list_min(list_filter(pc, y -> y >
                   COALESCE(list_min(list_filter(pb, x -> x > a)),
                            {_IV_SENTINEL})))
                 - a - 2,
                 {_IV_SENTINEL}))) AS min_gaps
      FROM p WHERE len(pa) > 0)
    SELECT doc_id, CAST(min_gaps AS BIGINT) AS min_gaps
    FROM g WHERE min_gaps <= {_IV_MAX_GAPS}
    ORDER BY doc_id
    """,
)
def q318_intervals_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("toks")
    )

    # with_once barriers (functions/plan.py): without them Catalyst
    # inlines pa/pb/pc into the chain lambda (per-pa-element O(n)
    # re-evaluation) and the whole min_gaps chain into the final
    # interpreted Filter — measured 16.7 s vs 3.9 s at sf1 for the
    # identical result. The struct pins all three position arrays to
    # one evaluation; the second barrier pins min_gaps.
    p = with_once(
        docs,
        "ps",
        F.struct(
            token_positions("toks", _IV_TERMS[0]).alias("pa"),
            token_positions("toks", _IV_TERMS[1]).alias("pb"),
            token_positions("toks", _IV_TERMS[2]).alias("pc"),
        ),
    ).filter(F.size("ps.pa") > 0)

    sentinel = F.lit(_IV_SENTINEL)

    def chain(a: F.Column) -> F.Column:
        b = F.coalesce(F.array_min(F.filter(F.col("ps.pb"), lambda x: x > a)), sentinel)
        c = F.array_min(F.filter(F.col("ps.pc"), lambda y: y > b))
        return F.coalesce(c - a - 2, sentinel)

    g = with_once(
        p, "mg", F.array_min(F.transform(F.col("ps.pa"), chain)).cast("bigint")
    ).select("doc_id", F.col("mg").alias("min_gaps"))
    return g.filter(F.col("min_gaps") <= _IV_MAX_GAPS).orderBy("doc_id")


# ---------------------------------------------------------------------------
# q325 — ES `span_not` query: occurrences of the include term ("hash")
# that are NOT within `pre`/`post` positions of any occurrence of the
# exclude term ("join"). Surfaces the surviving-occurrence count and
# the first surviving position (1-based) per matching document.
#
# Determinism: pure integer position arithmetic; positions are
# explicitly 1-based on BOTH engines (Spark's 0-based lambda index is
# shifted by +1 to match DuckDB's 1-based one).
#
# Shape (100 TB): scan-local — position arrays and the exclusion
# filter are one projection per document; no shuffle except the
# display sort. Completes the span family (q299 span_near, q278
# span_first, q263 cross-doc spans).
# ---------------------------------------------------------------------------
_SN_INCLUDE = "hash"
_SN_EXCLUDE = "join"
_SN_WINDOW = 2  # pre = post = 2


@register(
    "q325_span_not",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
    p AS (
      SELECT doc_id,
             {token_positions_sql('toks', _SN_INCLUDE)} AS pa,
             {token_positions_sql('toks', _SN_EXCLUDE)} AS pb
      FROM t),
    kept AS (
      SELECT doc_id,
             list_filter(pa, a ->
               len(list_filter(pb, b -> abs(a - b) <= {_SN_WINDOW})) = 0) AS ka
      FROM p WHERE len(pa) > 0)
    SELECT doc_id,
           CAST(len(ka) AS BIGINT) AS n_kept,
           CAST(ka[1] AS BIGINT) AS first_kept
    FROM kept WHERE len(ka) > 0
    ORDER BY doc_id
    """,
)
def q325_span_not(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("toks")
    )
    # 1-based positions (i + 1) so absolute positions match DuckDB's
    # 1-based lambda index.
    # with_once barriers (functions/plan.py, the q318 lesson): pin the
    # position arrays and the kept-set to single evaluation — otherwise
    # pb's O(n) construction inlines inside the per-a lambda and the
    # whole kept-set expression inlines again into the size() filters.
    p = with_once(
        docs,
        "ps",
        F.struct(
            F.expr(
                f"filter(transform(toks, (x, i) -> IF(x = '{_SN_INCLUDE}', i + 1, -1)),"
                f" p -> p >= 0)"
            ).alias("pa"),
            F.expr(
                f"filter(transform(toks, (x, i) -> IF(x = '{_SN_EXCLUDE}', i + 1, -1)),"
                f" p -> p >= 0)"
            ).alias("pb"),
        ),
    ).filter(F.size("ps.pa") > 0)
    kept = with_once(
        p,
        "ka",
        F.filter(
            F.col("ps.pa"),
            lambda a: F.size(
                F.filter(F.col("ps.pb"), lambda b: F.abs(a - b) <= _SN_WINDOW)
            )
            == 0,
        ),
    )
    return (
        kept.filter(F.size("ka") > 0)
        .select(
            "doc_id",
            F.size("ka").cast("bigint").alias("n_kept"),
            F.element_at("ka", 1).cast("bigint").alias("first_kept"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# q334 — ES `span_or` inside `span_near`: either of two include terms
# ("hash" | "merge") within slop 3 of the anchor ("join"), per
# document: the minimal gap certificate and the number of qualifying
# pairs. Completes the span family: q299 span_near, q278 span_first,
# q325 span_not.
#
# Determinism: pure integer position differences (the q299 idiom —
# base-index offset cancels).
#
# Shape (100 TB): scan-local position arrays + row-local pair
# flatten; no shuffle except the display sort.
# ---------------------------------------------------------------------------
_SO_TERMS = ("hash", "merge")
_SO_ANCHOR = "join"
_SO_SLOP = 3


@register(
    "q334_span_or_near",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
    p AS (
      SELECT doc_id,
             list_concat(
               list_filter(list_transform(toks, (x, i) ->
                 CASE WHEN x = '{_SO_TERMS[0]}' THEN i ELSE -1 END), v -> v >= 0),
               list_filter(list_transform(toks, (x, i) ->
                 CASE WHEN x = '{_SO_TERMS[1]}' THEN i ELSE -1 END), v -> v >= 0))
               AS pu,
             list_filter(list_transform(toks, (x, i) ->
               CASE WHEN x = '{_SO_ANCHOR}' THEN i ELSE -1 END), v -> v >= 0) AS pj
      FROM t),
    pairs AS (
      SELECT doc_id,
             flatten(list_transform(pu, u ->
               list_transform(pj, j -> abs(u - j) - 1))) AS gaps
      FROM p WHERE len(pu) > 0 AND len(pj) > 0)
    SELECT doc_id,
           CAST(list_min(gaps) AS BIGINT) AS best_gap,
           CAST(len(list_filter(gaps, g -> g <= {_SO_SLOP})) AS BIGINT)
             AS n_pairs_within
    FROM pairs WHERE list_min(gaps) <= {_SO_SLOP}
    ORDER BY doc_id
    """,
)
def q334_span_or_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("toks")
    )

    def pos(term: str) -> str:
        return (
            f"filter(transform(toks, (x, i) -> IF(x = '{term}', i, -1)),"
            f" v -> v >= 0)"
        )

    # with_once barriers (functions/plan.py, the q318 lesson): pin the
    # position/gap arrays to single evaluation so the size() filter and
    # the best_gap filter don't inline the O(n) constructions.
    p = with_once(
        docs,
        "ps",
        F.struct(
            F.expr(f"concat({pos(_SO_TERMS[0])}, {pos(_SO_TERMS[1])})").alias("pu"),
            F.expr(pos(_SO_ANCHOR)).alias("pj"),
        ),
    ).filter((F.size("ps.pu") > 0) & (F.size("ps.pj") > 0))
    gaps = F.expr(
        "flatten(transform(ps.pu, u -> transform(ps.pj, j -> abs(u - j) - 1)))"
    )
    g = with_once(p, "gaps", gaps)
    return (
        g.select(
            "doc_id",
            F.array_min("gaps").cast("bigint").alias("best_gap"),
            F.size(F.filter("gaps", lambda x: x <= F.lit(_SO_SLOP)))
            .cast("bigint")
            .alias("n_pairs_within"),
        )
        .filter(F.col("best_gap") <= _SO_SLOP)
        .orderBy("doc_id")
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
             {token_positions_sql('tk', _SC_BIG_A)} AS pa,
             {token_positions_sql('tk', _SC_BIG_B)} AS pb,
             {token_positions_sql('tk', _SC_LITTLE)} AS pl
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

    # with_once barriers (functions/plan.py, the q318 lesson): pin the
    # position arrays and the width list to single evaluation —
    # otherwise pl/pb inline inside the per-(a,b) lambdas and widths
    # inlines again into the size() filter.
    pos = with_once(
        docs,
        "ps",
        F.struct(
            token_positions("tk", _SC_BIG_A).alias("pa"),
            token_positions("tk", _SC_BIG_B).alias("pb"),
            token_positions("tk", _SC_LITTLE).alias("pl"),
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
# q384 — ES `span_within`: match LITTLE spans that lie inside a big
# span — the inverse direction of the shipped q353 span_containing
# (which matches the BIG side). Little = term 'key'; big = ordered
# span_near('data' .. 'table', internal gap <= 3). Surfaces the count
# of contained little occurrences and the doc's total little tf — both
# pure counts, so the 0/1-based transform-index offset cancels and no
# raw position ever reaches the result (PERF.md #9.5 discipline).
#
# Shape (100 TB): scan-local nested array folds, |pa|x|pb| bounded by
# per-doc tf; no join, no shuffle before the display sort.
# ---------------------------------------------------------------------------
_SW_BIG_A, _SW_BIG_B, _SW_LITTLE = "data", "table", "key"
_SW_GAP = 3


@register(
    "q384_span_within",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {TOKS_SQL} AS tk FROM documents),
    pos AS (
      SELECT doc_id,
             {token_positions_sql('tk', _SW_BIG_A)} AS pa,
             {token_positions_sql('tk', _SW_BIG_B)} AS pb,
             {token_positions_sql('tk', _SW_LITTLE)} AS pl
      FROM t),
    w AS (
      SELECT doc_id,
             CAST(len(pl) AS BIGINT) AS little_tf,
             CAST(len(list_filter(pl, p ->
               len(list_filter(pa, a ->
                 len(list_filter(pb, b ->
                   b > a AND b - a - 1 <= {_SW_GAP}
                   AND p >= a AND p <= b)) > 0)) > 0)) AS BIGINT) AS n_within
      FROM pos WHERE len(pa) > 0 AND len(pb) > 0 AND len(pl) > 0)
    SELECT doc_id, n_within, little_tf
    FROM w WHERE n_within > 0
    ORDER BY doc_id
    """,
)
def q384_span_within(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("tk")
    )

    # with_once barriers (functions/plan.py, the q318 lesson): without
    # them the position arrays inline into the triply-nested span
    # lambda (per-(p,a) re-evaluation of pb's O(n) construction) and
    # the whole n_within count inlines again into the final interpreted
    # Filter. Identical rows, ~4x less work at sf1.
    pos = with_once(
        docs,
        "ps",
        F.struct(
            token_positions("tk", _SW_BIG_A).alias("pa"),
            token_positions("tk", _SW_BIG_B).alias("pb"),
            token_positions("tk", _SW_LITTLE).alias("pl"),
        ),
    ).filter(
        (F.size("ps.pa") > 0) & (F.size("ps.pb") > 0) & (F.size("ps.pl") > 0)
    )
    n_within = F.expr(
        f"CAST(size(filter(ps.pl, p -> "
        f"size(filter(ps.pa, a -> "
        f"size(filter(ps.pb, b -> b > a AND b - a - 1 <= {_SW_GAP} "
        f"AND p >= a AND p <= b)) > 0)) > 0)) AS BIGINT)"
    )
    w = with_once(pos, "nw", n_within).select(
        "doc_id",
        F.col("nw").alias("n_within"),
        F.size("ps.pl").cast("bigint").alias("little_tf"),
    )
    return w.filter(F.col("n_within") > 0).select(
        "doc_id", "n_within", "little_tf"
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# q385 — ES `span_multi`: wrap a multi-term query (here prefix 'st*',
# the q251 bounded-expansion family) in a span and require it within
# slop 2 of the anchor term 'key' in either order (q299 span_near
# semantics). The prefix expands POSITIONALLY — every occurrence of any
# st*-token is a span candidate. Surfaces the best (minimum) gap, the
# number of qualifying pairs, and how many multi-term positions
# participated — counts and differences only, offset-free.
#
# Shape (100 TB): scan-local; candidate pairs are per-doc tf-bounded.
# ---------------------------------------------------------------------------
_SM_PREFIX = "st"
_SM_ANCHOR = "key"
_SM_SLOP = 2


@register(
    "q385_span_multi",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {TOKS_SQL} AS tk FROM documents),
    pos AS (
      SELECT doc_id,
             list_filter(list_transform(tk, (x, i) ->
               CASE WHEN x LIKE '{_SM_PREFIX}%' THEN i ELSE -1 END),
               p -> p >= 0) AS pm,
             {token_positions_sql('tk', _SM_ANCHOR)} AS pk
      FROM t),
    pairs AS (
      SELECT doc_id,
             CAST(len(pm) AS BIGINT) AS n_multi_positions,
             flatten(list_transform(pm, x ->
               list_transform(pk, y -> abs(x - y) - 1))) AS gaps
      FROM pos WHERE len(pm) > 0 AND len(pk) > 0)
    SELECT doc_id,
           CAST(list_min(gaps) AS BIGINT) AS best_gap,
           CAST(len(list_filter(gaps, g -> g <= {_SM_SLOP})) AS BIGINT)
             AS n_pairs_within,
           n_multi_positions
    FROM pairs WHERE list_min(gaps) <= {_SM_SLOP}
    ORDER BY doc_id
    """,
)
def q385_span_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("tk")
    )
    # with_once barriers (functions/plan.py, the q318 lesson): single
    # evaluation for the position arrays and the gap list.
    pos = with_once(
        docs,
        "ps",
        F.struct(
            F.expr(
                f"filter(transform(tk, (x, i) -> "
                f"IF(x LIKE '{_SM_PREFIX}%', i, -1)), p -> p >= 0)"
            ).alias("pm"),
            F.expr(
                f"filter(transform(tk, (x, i) -> "
                f"IF(x = '{_SM_ANCHOR}', i, -1)), p -> p >= 0)"
            ).alias("pk"),
        ),
    ).filter((F.size("ps.pm") > 0) & (F.size("ps.pk") > 0))
    pairs = with_once(
        pos,
        "gaps",
        F.expr("flatten(transform(ps.pm, x -> transform(ps.pk, y -> abs(x - y) - 1)))"),
    ).select(
        "doc_id",
        F.size("ps.pm").cast("bigint").alias("n_multi_positions"),
        "gaps",
    )
    return (
        pairs.filter(F.array_min("gaps") <= _SM_SLOP)
        .select(
            "doc_id",
            F.array_min("gaps").cast("bigint").alias("best_gap"),
            F.size(F.filter("gaps", lambda g: g <= F.lit(_SM_SLOP)))
            .cast("bigint")
            .alias("n_pairs_within"),
            "n_multi_positions",
        )
        .orderBy("doc_id")
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
             {token_positions_sql('toks', _IV2_ALT1[0])} AS pa,
             {token_positions_sql('toks', _IV2_ALT1[1])} AS pb,
             {token_positions_sql('toks', _IV2_ALT2[0])} AS pc,
             {token_positions_sql('toks', _IV2_ALT2[1])} AS pd,
             {token_positions_sql('toks', _IV2_NOT)} AS px
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

    p = with_once(
        docs,
        "ps",
        F.struct(
            token_positions("toks", _IV2_ALT1[0]).alias("pa"),
            token_positions("toks", _IV2_ALT1[1]).alias("pb"),
            token_positions("toks", _IV2_ALT2[0]).alias("pc"),
            token_positions("toks", _IV2_ALT2[1]).alias("pd"),
            token_positions("toks", _IV2_NOT).alias("px"),
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
