"""Relevance scoring: Elasticsearch's compound and scoring queries.

Script score, pinned, boosting, dis_max, distance_feature,
combined_fields, multi-function function_score, rescore, rank_feature,
sparse_vector, constant_score and a BM25 parameter grid, each a
token-level Spark plan with a DuckDB oracle of the same scores. Same
determinism contract as the rest of the catalog (see ``plans/catalog.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import TOKS_SQL, normalize_text, tokens
from ..sources.readers import load_table
from .catalog import register


# ---------------------------------------------------------------------------
# q312 — ES `script_score` + `rank_feature` saturation: score each doc
# containing the term `spark` as tf * saturation(n_chars, pivot=200)
# where saturation(f, p) = f / (f + p) — the exact rank_feature
# saturation curve. PURE RATIONAL arithmetic (tf and n_chars are ints),
# so the score is engine-exact before the final round.
#
# Shape (100 TB): scan-local scoring + TakeOrdered(20).
# ---------------------------------------------------------------------------
_RF_PIVOT = 200


@register(
    "q312_script_score",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, n_chars,
             CAST(len(list_filter({TOKS_SQL}, x -> x = 'spark'))
               AS BIGINT) AS tf
      FROM documents)
    SELECT doc_id, tf, CAST(n_chars AS BIGINT) AS n_chars,
           ROUND(tf * (CAST(n_chars AS DOUBLE) / (n_chars + {_RF_PIVOT})), 6)
             AS score
    FROM t WHERE tf > 0 ORDER BY score DESC, doc_id LIMIT 20
    """,
)
def q312_script_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.size(F.filter(tokens("text"), lambda x: x == F.lit("spark")))
        .cast("bigint")
        .alias("tf"),
    )
    score = F.col("tf") * (
        F.col("n_chars").cast("double") / (F.col("n_chars") + _RF_PIVOT)
    )
    return (
        t.filter(F.col("tf") > 0)
        .select("doc_id", "tf", "n_chars", F.round(score, 6).alias("score"))
        .orderBy(F.desc("score"), "doc_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q313 — ES `pinned` query: curated ids surface first IN THE GIVEN
# ORDER, then organic results ranked by score (n_chars desc, doc_id
# tiebreak), pinned ids excluded from the organic section. Surfaced
# with an explicit rank so the contract is order-proof under the
# driver's order-insensitive compare.
#
# Shape (100 TB): the pin list is a literal broadcast; organic ranking
# is TakeOrdered(k) — never a global sort.
# ---------------------------------------------------------------------------
_PINNED = (11, 3, 7)
_PIN_ORGANIC = 10


@register(
    "q313_pinned_query",
    oracle=f"""
    WITH pins AS (
      SELECT * FROM (VALUES {", ".join(f"({r}, {d})" for r, d in enumerate(_PINNED))})
        AS v(rank, doc_id)),
    organic AS (
      SELECT CAST({len(_PINNED)} - 1 + ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id)
               AS BIGINT) AS rank,
             doc_id
      FROM documents WHERE doc_id NOT IN {_PINNED!r}
      ORDER BY n_chars DESC, doc_id LIMIT {_PIN_ORGANIC})
    SELECT CAST(rank AS BIGINT) AS rank, CAST(doc_id AS BIGINT) AS doc_id,
           rank < {len(_PINNED)} AS pinned
    FROM (SELECT rank, doc_id FROM pins UNION ALL SELECT rank, doc_id FROM organic)
    ORDER BY rank
    """,
)
def q313_pinned_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pins = spark.createDataFrame(
        [(r, d) for r, d in enumerate(_PINNED)], "rank long, doc_id long"
    )
    # NB: organic re-ranks the limited 10-row frame — window over 10 rows
    organic = (
        docs.filter(~F.col("doc_id").isin(*_PINNED))
        .orderBy(F.desc("n_chars"), "doc_id")
        .limit(_PIN_ORGANIC)
        .withColumn(
            "rank",
            F.lit(len(_PINNED) - 1)
            + F.row_number().over(Window.orderBy(F.desc("n_chars"), "doc_id")),
        )
        .select("rank", "doc_id")
    )
    out = pins.select("rank", "doc_id").unionAll(organic.select("rank", "doc_id"))
    return out.select(
        F.col("rank").cast("bigint").alias("rank"),
        F.col("doc_id").cast("bigint").alias("doc_id"),
        (F.col("rank") < len(_PINNED)).alias("pinned"),
    ).orderBy("rank")


def _tf_sql(term: str) -> str:
    return (
        f"CAST(len(list_filter({TOKS_SQL}, x -> x = '{term}')) AS BIGINT)"
    )


def _tf_col(term: str) -> F.Column:
    # Codegen'd JVM regex instead of an interpreted token-lambda pass
    # (the q390 lesson): \b boundaries over the normalized [a-z0-9 ]+
    # text are exactly token boundaries, so the count is identical to
    # size(filter(tokens(text), x = term)) for any [a-z0-9]+ term —
    # and it stays cheap even when Catalyst inlines it into a Filter.
    assert term.replace("'", "") == term and term.isalnum(), term
    return F.regexp_count(
        normalize_text(F.col("text")), F.lit(f"\\b{term}\\b")
    ).cast("bigint")


# ---------------------------------------------------------------------------
# q314 — ES `boosting` query: documents matching the positive query
# ("merge") score by term frequency; documents ALSO matching the
# negative query ("slow") keep matching but are demoted by
# negative_boost (ES default-style multiplicative penalty).
#
# Determinism: base score is an integer tf; the demotion multiplies by
# the shared literal 0.5 (exact in binary), so both engines produce
# bit-identical doubles before the ROUND(.,6).
#
# Shape (100 TB): scan-local scoring (two token-array probes fused into
# one whole-stage-codegen projection) + TakeOrdered(20) — no shuffle
# beyond the top-k exchange, never a global sort.
# ---------------------------------------------------------------------------
_BOOST_NEG = 0.5


@register(
    "q314_boosting_query",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             {_tf_sql("merge")} AS pos_tf,
             {_tf_sql("slow")} > 0 AS demoted
      FROM documents)
    SELECT doc_id, pos_tf, demoted,
           ROUND(pos_tf * (CASE WHEN demoted THEN {_BOOST_NEG} ELSE 1.0 END), 6)
             AS score
    FROM t WHERE pos_tf > 0
    ORDER BY score DESC, doc_id LIMIT 20
    """,
)
def q314_boosting_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        _tf_col("merge").alias("pos_tf"),
        (_tf_col("slow") > 0).alias("demoted"),
    )
    score = F.col("pos_tf") * F.when(
        F.col("demoted"), F.lit(_BOOST_NEG)
    ).otherwise(F.lit(1.0))
    return (
        t.filter(F.col("pos_tf") > 0)
        .select("doc_id", "pos_tf", "demoted", F.round(score, 6).alias("score"))
        .orderBy(F.desc("score"), "doc_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q315 — ES `dis_max` query: per document, take the BEST of the
# subquery scores plus tie_breaker × the sum of the others:
#   score = max(s_i) + tie_breaker * (sum(s_i) - max(s_i))
# Subqueries here are term-frequency scores for three probe terms.
#
# Determinism: s_i are integer tfs; max/sum are exact; the single
# float multiply uses the shared 0.3 literal — identical doubles on
# both engines before ROUND(.,6).
#
# Shape (100 TB): one scan-local projection (all three tf probes fuse
# into one codegen stage over the same token array) + TakeOrdered(20).
# ---------------------------------------------------------------------------
_DM_TERMS = ("sort", "window", "scan")
_DM_TIE = 0.3


@register(
    "q315_dis_max",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             {_tf_sql(_DM_TERMS[0])} AS tf0,
             {_tf_sql(_DM_TERMS[1])} AS tf1,
             {_tf_sql(_DM_TERMS[2])} AS tf2
      FROM documents)
    SELECT doc_id, tf0, tf1, tf2,
           ROUND(GREATEST(tf0, tf1, tf2)
                 + {_DM_TIE} * (tf0 + tf1 + tf2 - GREATEST(tf0, tf1, tf2)),
                 6) AS score
    FROM t WHERE tf0 + tf1 + tf2 > 0
    ORDER BY score DESC, doc_id LIMIT 20
    """,
)
def q315_dis_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        _tf_col(_DM_TERMS[0]).alias("tf0"),
        _tf_col(_DM_TERMS[1]).alias("tf1"),
        _tf_col(_DM_TERMS[2]).alias("tf2"),
    )
    best = F.greatest("tf0", "tf1", "tf2")
    total = F.col("tf0") + F.col("tf1") + F.col("tf2")
    score = best + F.lit(_DM_TIE) * (total - best)
    return (
        t.filter(total > 0)
        .select("doc_id", "tf0", "tf1", "tf2", F.round(score, 6).alias("score"))
        .orderBy(F.desc("score"), "doc_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q319 — ES `distance_feature` query on a date field: within a filtered
# result set (open orders), boost by temporal proximity to an origin:
#   score = boost * pivot / (pivot + |orderdate - origin| in days)
# ES's exact rational form — no exp/ln, so the doubles are bit-identical
# given the same integer day distance.
#
# Shape (100 TB): scan-local rational scoring over the filtered scan
# (predicate pushed to parquet) + TakeOrdered(20).
# ---------------------------------------------------------------------------
_DF_ORIGIN = "1998-01-01"
_DF_PIVOT = 30
_DF_BOOST = 2.0


@register(
    "q319_distance_feature",
    oracle=f"""
    SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
           CAST(abs(datediff('day', DATE '{_DF_ORIGIN}',
                             CAST(o_orderdate AS DATE))) AS BIGINT) AS dist_days,
           ROUND({_DF_BOOST} * {_DF_PIVOT}.0
                 / ({_DF_PIVOT} + abs(datediff('day', DATE '{_DF_ORIGIN}',
                                               CAST(o_orderdate AS DATE)))), 6)
             AS score
    FROM orders WHERE o_orderstatus = 'O'
    ORDER BY score DESC, o_orderkey LIMIT 20
    """,
)
def q319_distance_feature(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    dist = F.abs(
        F.datediff(F.col("o_orderdate").cast("date"), F.lit(_DF_ORIGIN).cast("date"))
    ).cast("bigint")
    o = o.select(
        F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
        dist.alias("dist_days"),
    )
    score = F.lit(_DF_BOOST) * F.lit(float(_DF_PIVOT)) / (
        F.lit(_DF_PIVOT) + F.col("dist_days")
    )
    return (
        o.select("o_orderkey", "dist_days", F.round(score, 6).alias("score"))
        .orderBy(F.desc("score"), "o_orderkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q324 — ES `combined_fields` query: term-centric matching across
# several fields analyzed as one virtual field — per term the combined
# frequency is the sum of its per-field frequencies, and with
# operator=AND every term must appear in at least one field. Fields
# here: text (free text) and lang (keyword). Score: sum of combined
# term frequencies (the same naive-tf discipline as q314/q315).
#
# Shape (100 TB): scan-local scoring + TakeOrdered(20).
# ---------------------------------------------------------------------------
_CF_TERMS = ("fast", "en")


def _cf_combined_sql(term: str) -> str:
    return f"({_tf_sql(term)} + CASE WHEN lang = '{term}' THEN 1 ELSE 0 END)"


@register(
    "q324_combined_fields",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             {_cf_combined_sql(_CF_TERMS[0])} AS ctf0,
             {_cf_combined_sql(_CF_TERMS[1])} AS ctf1
      FROM documents)
    SELECT doc_id, ctf0, ctf1,
           CAST(ctf0 + ctf1 AS BIGINT) AS score
    FROM t WHERE ctf0 > 0 AND ctf1 > 0
    ORDER BY score DESC, doc_id LIMIT 20
    """,
)
def q324_combined_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    def combined(term: str) -> F.Column:
        return _tf_col(term) + F.when(F.col("lang") == term, 1).otherwise(0)

    t = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        combined(_CF_TERMS[0]).alias("ctf0"),
        combined(_CF_TERMS[1]).alias("ctf1"),
    )
    return (
        t.filter((F.col("ctf0") > 0) & (F.col("ctf1") > 0))
        .select(
            "doc_id", "ctf0", "ctf1",
            (F.col("ctf0") + F.col("ctf1")).cast("bigint").alias("score"),
        )
        .orderBy(F.desc("score"), "doc_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q343 — ES `function_score` with MULTIPLE functions:
#   functions: [ {field_value_factor: sqrt(n_chars)},
#                {filter: lang='en', weight: 2.0} ]
#   score_mode: sum   (function values add)
#   boost_mode: multiply  (query score x combined function value)
# Query score is tf('query') — the naive-tf discipline. Completes the
# function_score family: q256 covers the decay function, q312 the
# script/rank_feature form.
#
# Determinism: sqrt of an exact integer and one shared 2.0 literal;
# one multiply; ROUND(.,6).
#
# Shape (100 TB): scan-local scoring + TakeOrdered(20).
# ---------------------------------------------------------------------------
_FS_TERM = "query"
_FS_WEIGHT = 2.0


@register(
    "q343_function_score_multi",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             {_tf_sql(_FS_TERM)} AS tf,
             sqrt(CAST(n_chars AS DOUBLE))
               + (CASE WHEN lang = 'en' THEN {_FS_WEIGHT} ELSE 0.0 END) AS fval
      FROM documents)
    SELECT doc_id, tf, ROUND(fval, 6) AS fval,
           ROUND(tf * fval, 6) AS score
    FROM t WHERE tf > 0
    ORDER BY score DESC, doc_id LIMIT 20
    """,
)
def q343_function_score_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        _tf_col(_FS_TERM).alias("tf"),
        (
            F.sqrt(F.col("n_chars").cast("double"))
            + F.when(F.col("lang") == "en", F.lit(_FS_WEIGHT)).otherwise(F.lit(0.0))
        ).alias("fval"),
    )
    return (
        t.filter(F.col("tf") > 0)
        .select(
            "doc_id", "tf",
            F.round("fval", 6).alias("fval"),
            F.round(F.col("tf") * F.col("fval"), 6).alias("score"),
        )
        .orderBy(F.desc("score"), "doc_id")
        .limit(20)
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
