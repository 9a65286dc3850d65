"""Round-9 catalog extensions — the remaining ES query-DSL tail from
the round-8 review: the full-Lucene ``query_string`` grammar (q382),
the positional prefix/span completions ``match_phrase_prefix`` /
``span_within`` / ``span_multi`` (q383-q385), and the aggregation tail
``random_sampler`` / ``ip_prefix`` / ``geohex_grid`` (q386-q388).

Reference context: the reference stack ships ES 8.12 wholesale
(docker-compose.yml:32); its client code only calls ``multi_match``
(`/root/reference/src/api.py:197-221`), but any user of that stack can
issue these constructs, so "same capabilities" includes them. Each is
re-expressed as a native scan-local DataFrame plan.

Determinism discipline (see catalog.py): integer position arithmetic
(only differences compared, so the 0/1-based lambda-index offset
cancels), integer tf counts times literal boosts for scores (exact in
doubles), hash-derived pseudo-randomness (xxhash64 on both engines is
unavailable — DuckDB lacks it — so sampling uses the multiplicative
integer hash family already pinned by q345/q379).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import TOKS_SQL, md5_hex_int_sql, tokens
from ..operators.querystring import (
    KeywordField,
    TokenField,
    compile_query_string,
)
from ..sources.readers import load_table
from .catalog import register

# ---------------------------------------------------------------------------
# q382 — ES `query_string`: the full Lucene grammar — AND/OR/NOT,
# parenthesized grouping with group boosts, per-field terms
# (keyword fields lang/source and the analyzed text field), quoted
# phrases, per-clause ^boosts. The grammar is parsed ONCE at plan-build
# time by operators/querystring.py (recursive descent, Lucene
# precedence NOT > AND > OR, adjacency = default OR) and compiled to a
# pure SQL predicate/score tree — the executed plan is one scan-local
# projection + filter + TakeOrdered, zero per-row Python.
#
# The DuckDB oracle below is GENERATED from the SAME parse via the
# compiler's duck backend, so parser/compiler bugs cannot hide from
# the parity gate; tests/test_querystring.py additionally proves the
# grammar subset `fast AND NOT slow AND "hash join"` result-equivalent
# to q332_simple_query_string's fixed `+fast -slow "hash join"`.
#
# Scoring: Lucene sum-of-matching-subscores in the catalog's naive-tf
# discipline (integer tf × literal boost — exact in doubles).
# ---------------------------------------------------------------------------
_QS_FIELDS: dict[str, TokenField | KeywordField] = {
    "text": TokenField("toks"),
    "lang": KeywordField("lang"),
    "source": KeywordField("source"),
}
_QS_QUERY = (
    '(hash AND "sort key")^2 OR (merge^3 AND NOT lang:fr) OR source:src7'
)
_QS_MATCH_SPARK, _QS_SCORE_SPARK = compile_query_string(
    _QS_QUERY, _QS_FIELDS, "text", "spark"
)
_QS_MATCH_DUCK, _QS_SCORE_DUCK = compile_query_string(
    _QS_QUERY, _QS_FIELDS, "text", "duck"
)


@register(
    "q382_query_string",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, source, {TOKS_SQL} AS toks FROM documents)
    SELECT doc_id, ROUND({_QS_SCORE_DUCK}, 4) AS score
    FROM t WHERE {_QS_MATCH_DUCK}
    ORDER BY score DESC, doc_id LIMIT 20
    """,
)
def q382_query_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.plan import with_once

    # with_once barrier (functions/plan.py, the q318 lesson): the
    # compiled match predicate references `toks` once per query term,
    # and pushdown would otherwise re-tokenize the text at every
    # reference inside the interpreted Filter.
    t = with_once(
        load_table(spark, sf_dir, "documents").select("doc_id", "lang", "source", "text"),
        "toks",
        tokens("text"),
    )
    return (
        t.filter(F.expr(_QS_MATCH_SPARK))
        .select("doc_id", F.round(F.expr(_QS_SCORE_SPARK), 4).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q383 — ES `match_phrase_prefix`: type-ahead PHRASE search — "sort k"
# matches docs where token 'sort' is immediately followed by a token
# starting with 'k' (the positional sibling of q298's bag-of-words
# match_bool_prefix). Surfaces per doc the number of phrase-prefix
# positions and the sorted distinct completions of the prefix at those
# positions (ES's expanded terms, max_expansions unbounded here — the
# corpus vocabulary is tiny; an indexed variant would walk the q68 term
# dictionary exactly like ES's first-50 expansion).
#
# Shape (100 TB): scan-local — one indexed transform per row, no join,
# no shuffle before the display sort.
# ---------------------------------------------------------------------------
_MPP_FIRST = "sort"
_MPP_PREFIX = "k"


@register(
    "q383_match_phrase_prefix",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {TOKS_SQL} AS tk FROM documents),
    h AS (
      SELECT doc_id,
             list_filter(list_transform(tk, (x, i) ->
               CASE WHEN x = '{_MPP_FIRST}' AND i + 1 <= len(tk)
                         AND tk[i + 1] LIKE '{_MPP_PREFIX}%'
                    THEN tk[i + 1] END),
               c -> c IS NOT NULL) AS comps
      FROM t)
    SELECT doc_id,
           CAST(len(comps) AS BIGINT) AS n_hits,
           array_to_string(list_sort(list_distinct(comps)), ',')
             AS completions
    FROM h WHERE len(comps) > 0
    ORDER BY doc_id
    """,
)
def q383_match_phrase_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("tk")
    )
    # Spark transform index is 0-based; the "next token" probe is the
    # 1-based element_at(tk, i + 2) — the q332/q353 idiom.
    comps = F.expr(
        f"filter(transform(tk, (x, i) -> "
        f"CASE WHEN x = '{_MPP_FIRST}' AND i + 1 < size(tk) "
        f"AND element_at(tk, i + 2) LIKE '{_MPP_PREFIX}%' "
        f"THEN element_at(tk, i + 2) END), c -> c IS NOT NULL)"
    )
    from ..functions.plan import with_once

    # with_once barrier (functions/plan.py, the q318 lesson): the comps
    # construction otherwise inlines into the size() filter AND the two
    # output expressions — three interpreted evaluations per row.
    h = with_once(docs, "comps", comps).filter(F.size("comps") > 0)
    return h.select(
        "doc_id",
        F.size("comps").cast("bigint").alias("n_hits"),
        F.concat_ws(",", F.array_sort(F.array_distinct("comps"))).alias(
            "completions"
        ),
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
             list_filter(list_transform(tk, (x, i) ->
               CASE WHEN x = '{_SW_BIG_A}' THEN i ELSE -1 END), p -> p >= 0) AS pa,
             list_filter(list_transform(tk, (x, i) ->
               CASE WHEN x = '{_SW_BIG_B}' THEN i ELSE -1 END), p -> p >= 0) AS pb,
             list_filter(list_transform(tk, (x, i) ->
               CASE WHEN x = '{_SW_LITTLE}' THEN i ELSE -1 END), p -> p >= 0) AS pl
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

    def _positions(term: str):
        return F.expr(
            f"filter(transform(tk, (x, i) -> IF(x = '{term}', i, -1)), p -> p >= 0)"
        )

    from ..functions.plan import with_once

    # with_once barriers (functions/plan.py, the q318 lesson): without
    # them the position arrays inline into the triply-nested span
    # lambda (per-(p,a) re-evaluation of pb's O(n) construction) and
    # the whole n_within count inlines again into the final interpreted
    # Filter. Identical rows, ~4x less work at sf1.
    pos = with_once(
        docs,
        "ps",
        F.struct(
            _positions(_SW_BIG_A).alias("pa"),
            _positions(_SW_BIG_B).alias("pb"),
            _positions(_SW_LITTLE).alias("pl"),
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
             list_filter(list_transform(tk, (x, i) ->
               CASE WHEN x = '{_SM_ANCHOR}' THEN i ELSE -1 END),
               p -> p >= 0) AS pk
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
    from ..functions.plan import with_once

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
# q388 — ES `geohex_grid` aggregation: bucket points into a HEXAGONAL
# grid (H3's tiling idea on the engine's synthetic integer lattice —
# the q340 geohash / q293 geotile convention: point = (custkey*104729
# % 1000, custkey*7919 % 1000)). A true H3 cell needs the H3 library
# and spherical math; the round-8 review sanctioned either that or an
# integer-exact hexagonal tiling. This is the latter, EXACT:
#
# A hexagonal lattice is the union of two staggered rectangular
# lattices — L1 centers at (a*W, b*H) and L2 at (a*W + W/2, b*H + H/2).
# Nearest-center (Voronoi) assignment over that union yields hexagonal
# cells when H/W ~ sqrt(3); we pin W=56, H=97 (97/56 = 1.73214..., vs
# sqrt(3) = 1.73205 — hexagons regular to 0.005%). All arithmetic runs
# in DOUBLED integer coordinates (X=2x, Y=2y) so both center lattices
# are integral (L2's half-offsets become integers), rounding is
# floor((t + half) / step) with positive-shifted operands (Spark DIV
# truncates toward zero, DuckDB // floors — identical only for
# non-negative operands), and the L1-vs-L2 choice compares exact
# integer squared distances with ties to L1. No float enters the plan.
#
# Shape (100 TB): scan-local key derivation + one map-combinable
# groupBy (bounded by the lattice size); top-20 is TakeOrdered.
# ---------------------------------------------------------------------------
_HEX_W2, _HEX_H2 = 112, 194  # doubled-coordinate lattice pitch (W=56, H=97)
_HEX_SHIFT = 1000  # positivity shift, in lattice steps


def _hex_sql(dialect: str) -> dict[str, str]:
    """Render the hex-assignment expressions for one dialect.

    Returns SQL strings for cx/cy (the chosen hex center, doubled
    coords) given integer point columns x, y."""
    div = "DIV" if dialect == "spark" else "//"
    w, h, s = _HEX_W2, _HEX_H2, _HEX_SHIFT

    def near(t: str, step: int, off: int) -> str:
        # nearest value of {a*step + off} to t, round-half-up:
        # a = floor((t - off + step/2) / step), positivity-shifted
        return (
            f"((({t} - {off} + {step // 2} + {step * s}) {div} {step})"
            f" * {step} + {off} - {step * s})"
        )

    cx1, cy1 = near("X", w, 0), near("Y", h, 0)
    cx2, cy2 = near("X", w, w // 2), near("Y", h, h // 2)
    d1 = f"((X - {cx1}) * (X - {cx1}) + (Y - {cy1}) * (Y - {cy1}))"
    d2 = f"((X - {cx2}) * (X - {cx2}) + (Y - {cy2}) * (Y - {cy2}))"
    return {
        "cx": f"(CASE WHEN {d1} <= {d2} THEN {cx1} ELSE {cx2} END)",
        "cy": f"(CASE WHEN {d1} <= {d2} THEN {cy1} ELSE {cy2} END)",
    }


_HEX_DUCK = _hex_sql("duck")
_HEX_SPARK = _hex_sql("spark")


@register(
    "q388_geohex_grid",
    oracle=f"""
    WITH pts AS (
      SELECT ((c_custkey * 104729) % 1000) * 2 AS X,
             ((c_custkey * 7919) % 1000) * 2 AS Y
      FROM customer),
    hexed AS (
      SELECT {_HEX_DUCK["cx"]} AS cx, {_HEX_DUCK["cy"]} AS cy FROM pts)
    SELECT CAST(cx AS VARCHAR) || ':' || CAST(cy AS VARCHAR) AS hex,
           CAST(COUNT(*) AS BIGINT) AS doc_count
    FROM hexed GROUP BY cx, cy
    ORDER BY doc_count DESC, hex LIMIT 20
    """,
)
def q388_geohex_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    pts = cust.select(
        (((F.col("c_custkey") * 104729) % 1000) * 2).alias("X"),
        (((F.col("c_custkey") * 7919) % 1000) * 2).alias("Y"),
    )
    hexed = pts.select(
        F.expr(_HEX_SPARK["cx"]).alias("cx"),
        F.expr(_HEX_SPARK["cy"]).alias("cy"),
    )
    return (
        hexed.groupBy("cx", "cy")
        .agg(F.count(F.lit(1)).cast("bigint").alias("doc_count"))
        .select(
            F.concat(
                F.col("cx").cast("string"), F.lit(":"), F.col("cy").cast("string")
            ).alias("hex"),
            "doc_count",
        )
        .orderBy(F.desc("doc_count"), "hex")
        .limit(20)
    )
