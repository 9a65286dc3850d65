"""Search query catalog (SURVEY.md §2.8, Q1–Q11) over ``documents``.

Every ES-DSL construct from the reference's API (``src/api.py:91-221``) is
a Spark-native query with a DuckDB oracle. Both sides share one text
analysis spec: lower → non-alphanumerics→space → trim → split on spaces.
Scoring and compound queries are in ``relevance``, span and intervals
queries in ``spans``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import (
    NORM_SQL,
    TOKS_SQL,
    distinct_tokens_sorted,
    normalize_text,
    tokens,
    toks_sql,
)
from ..operators import search as S
from ..operators.querystring import KeywordField, TokenField, compile_query_string
from ..sources.readers import load_table
from .catalog import register

DOCS_CTE = f"WITH d AS (SELECT doc_id, text, lang, source, n_chars, {TOKS_SQL} AS toks FROM documents)"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.with_tokens(load_table(spark, sf_dir, "documents"), "text", "toks")


# ---------------------------------------------------------------------------
# Q2 term — exact keyword equality
# ---------------------------------------------------------------------------
@register(
    "q20_search_term",
    oracle="SELECT doc_id, source FROM documents WHERE lang = 'fr'",
)
def q20_search_term(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.filter(S.term("lang", "fr")).select("doc_id", "source")


# ---------------------------------------------------------------------------
# Q3 terms — any-overlap set membership (genre-overlap predicate)
# ---------------------------------------------------------------------------
@register(
    "q21_search_terms_overlap",
    oracle=f"{DOCS_CTE} SELECT doc_id, lang FROM d WHERE list_has_any(toks, ['window', 'stream'])",
)
def q21_search_terms_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).filter(S.terms_overlap(F.col("toks"), ["window", "stream"])).select(
        "doc_id", "lang"
    )


# ---------------------------------------------------------------------------
# Q1 match_phrase — contiguous token containment
# ---------------------------------------------------------------------------
@register(
    "q22_search_phrase",
    oracle=f"SELECT doc_id FROM documents WHERE ' ' || {NORM_SQL} || ' ' LIKE '% fast sort %'",
)
def q22_search_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.filter(S.phrase_match("text", "fast sort")).select("doc_id")


# ---------------------------------------------------------------------------
# Q4 bool — must / must_not / should with minimum_should_match
# ---------------------------------------------------------------------------
@register(
    "q23_search_bool",
    oracle=f"""
    {DOCS_CTE}
    SELECT doc_id, source FROM d
    WHERE lang = 'en' AND list_contains(toks, 'spark') AND NOT source = 'src0'
      AND (CAST(list_contains(toks, 'join') AS INT) + CAST(list_contains(toks, 'merge') AS INT)
           + CAST(list_contains(toks, 'window') AS INT)) >= 2
    """,
)
def q23_search_bool(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    pred = S.bool_query(
        must=[S.term("lang", "en"), F.array_contains("toks", "spark")],
        must_not=[S.term("source", "src0")],
        should=[
            F.array_contains("toks", "join"),
            F.array_contains("toks", "merge"),
            F.array_contains("toks", "window"),
        ],
        minimum_should_match=2,
    )
    return d.filter(pred).select("doc_id", "source")


# ---------------------------------------------------------------------------
# Q5 keyword match — per-word containment count as score (api.py:124-135)
# ---------------------------------------------------------------------------
@register(
    "q24_search_keyword_score",
    oracle=f"""
    SELECT * FROM (
      {DOCS_CTE}
      SELECT doc_id,
             CAST(CAST(list_contains(toks, 'customer') AS INT) + CAST(list_contains(toks, 'window') AS INT)
             + CAST(list_contains(toks, 'stream') AS INT) AS BIGINT) AS score
      FROM d)
    WHERE score >= 1
    """,
)
def q24_search_keyword_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    score = S.keyword_match_count(F.col("toks"), ["customer", "window", "stream", "a"], min_len=4)
    return d.select("doc_id", score.cast("bigint").alias("score")).filter(F.col("score") >= 1)


# ---------------------------------------------------------------------------
# Q6 fuzzy — levenshtein with ES AUTO bands ('sprak' → distance 1)
# ---------------------------------------------------------------------------
@register(
    "q25_search_fuzzy",
    oracle=f"""
    {DOCS_CTE}
    SELECT doc_id FROM d
    WHERE len(list_filter(toks, t -> levenshtein(t, 'sprak') <= 1)) > 0
    """,
)
def q25_search_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return d.filter(S.fuzzy_match(F.col("toks"), "sprak")).select("doc_id")


# ---------------------------------------------------------------------------
# Q6/Q7 BM25 relevance ranking + top-k
# ---------------------------------------------------------------------------
_BM25_TERMS = ("spark", "join", "window")


def _bm25_term_sql(t: str, i: int) -> str:
    tf = f"CAST(len(list_filter(toks, t -> t = '{t}')) AS DOUBLE)"
    idf = f"ln((CAST(n AS DOUBLE) - CAST(df{i} AS DOUBLE) + 0.5) / (CAST(df{i} AS DOUBLE) + 0.5) + 1.0)"
    denom = f"({tf} + 1.2 * ((1.0 - 0.75) + 0.75 * (CAST(dl AS DOUBLE) / (CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE)))))"
    return f"{idf} * (({tf} * {2.2!r}) / {denom})"


_BM25_ORACLE = f"""
    WITH dd AS (SELECT doc_id, {TOKS_SQL} AS toks, len({TOKS_SQL}) AS dl FROM documents),
    stats AS (
      SELECT COUNT(*) AS n, SUM(dl) AS sumdl,
             {', '.join(f"SUM(CASE WHEN list_contains(toks, '{t}') THEN 1 ELSE 0 END) AS df{i}" for i, t in enumerate(_BM25_TERMS))}
      FROM dd)
    SELECT doc_id,
           ROUND(({' + '.join(_bm25_term_sql(t, i) for i, t in enumerate(_BM25_TERMS))}) * 1.0, 4) AS score
    FROM dd CROSS JOIN stats
    ORDER BY score DESC, doc_id ASC
    LIMIT 10
    """


@register("q26_search_bm25", oracle=_BM25_ORACLE)
def q26_search_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    scored = S.bm25_score(docs, "text", list(_BM25_TERMS))
    return scored.select("doc_id", "score").orderBy(F.desc("score"), F.asc("doc_id")).limit(10)


# ---------------------------------------------------------------------------
# Q6 multi_match with field boosts (source^3, text) + AUTO fuzziness
# ---------------------------------------------------------------------------
@register(
    "q27_search_multimatch",
    oracle=f"""
    WITH d AS (SELECT doc_id, {TOKS_SQL} AS toks,
                      {toks_sql("source")} AS stoks
               FROM documents)
    SELECT * FROM (
    SELECT doc_id,
           ROUND(0.0
             + CAST(len(list_filter(stoks, t -> levenshtein(t, 'src3') <= 1)) > 0 AS INT) * 3.0
             + CAST(len(list_filter(stoks, t -> levenshtein(t, 'spark') <= 1)) > 0 AS INT) * 3.0
             + CAST(len(list_filter(toks, t -> levenshtein(t, 'src3') <= 1)) > 0 AS INT) * 1.0
             + CAST(len(list_filter(toks, t -> levenshtein(t, 'spark') <= 1)) > 0 AS INT) * 1.0, 4) AS score
    FROM d)
    WHERE score > 0
    """,
)
def q27_search_multimatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    scored = S.multi_match_score(docs, {"source": 3.0, "text": 1.0}, ["src3", "spark"], fuzzy=True)
    return scored.select("doc_id", "score").filter(F.col("score") > 0)


# ---------------------------------------------------------------------------
# more-like-this: the genre-overlap recommender shape (api.py:138-145)
# ---------------------------------------------------------------------------
@register(
    "q28_more_like_this",
    oracle=f"""
    WITH d AS (SELECT doc_id, list_sort(list_distinct({TOKS_SQL})) AS ts FROM documents),
    target AS (SELECT ts AS target_ts FROM d WHERE doc_id = 0)
    SELECT doc_id, len(list_intersect(ts, target_ts)) AS overlap
    FROM d CROSS JOIN target
    WHERE doc_id != 0 AND len(list_intersect(ts, target_ts)) > 0
    ORDER BY overlap DESC, doc_id ASC
    LIMIT 5
    """,
)
def q28_more_like_this(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return S.more_like_this(docs, "doc_id", "text", target_id=0, k=5)


# ---------------------------------------------------------------------------
# Q9 match_all sample + A4 hit count + Q10 range
# ---------------------------------------------------------------------------
@register(
    "q29_search_count",
    oracle=f"{DOCS_CTE} SELECT COUNT(*) AS hits FROM d WHERE list_contains(toks, 'merge')",
)
def q29_search_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return d.filter(F.array_contains("toks", "merge")).agg(F.count(F.lit(1)).alias("hits"))


@register(
    "q30_match_all_range",
    oracle="""
    SELECT doc_id, n_chars FROM documents
    WHERE doc_id >= 100 ORDER BY doc_id ASC LIMIT 5
    """,
)
def q30_match_all_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.filter(F.col("doc_id") >= 100).select("doc_id", "n_chars").orderBy(F.asc("doc_id")).limit(5)


# ---------------------------------------------------------------------------
# q68 — BM25 against a prebuilt docfreq index (the S7 "index DDL"
# replacement: stats persisted once per corpus snapshot, corpus scanned
# once per query batch). Same oracle as q26 — scores must be identical.
# ---------------------------------------------------------------------------
@register("q68_search_bm25_indexed", oracle=_BM25_ORACLE)
def q68_search_bm25_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textindex import bm25_with_index, build_docfreq_index

    docs = load_table(spark, sf_dir, "documents")
    docfreq, totals = build_docfreq_index(docs, "text")
    scored = bm25_with_index(docs, docfreq, totals, "text", list(_BM25_TERMS))
    return scored.select("doc_id", "score").orderBy(F.desc("score"), F.asc("doc_id")).limit(10)


# ---------------------------------------------------------------------------
# q69 — tf-idf top terms per document (text-analysis extension)
# ---------------------------------------------------------------------------
@register(
    "q69_tfidf_top_terms",
    oracle=f"""
    WITH toked AS (SELECT doc_id, {TOKS_SQL} AS toks FROM documents WHERE doc_id < 50),
    alltoked AS (SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
    tf AS (SELECT doc_id, t.term, COUNT(*) AS tf
           FROM toked, UNNEST(toks) AS t(term) GROUP BY doc_id, t.term),
    df AS (SELECT t.term, COUNT(*) AS df
           FROM (SELECT list_distinct(toks) AS dt FROM alltoked), UNNEST(dt) AS t(term)
           GROUP BY t.term),
    n AS (SELECT COUNT(*) AS n_docs FROM alltoked),
    scored AS (
      SELECT tf.doc_id, tf.term,
             ROUND(CAST(tf.tf AS DOUBLE) * ln(CAST(n.n_docs AS DOUBLE) / CAST(df.df AS DOUBLE)), 4) AS tfidf
      FROM tf JOIN df ON tf.term = df.term CROSS JOIN n),
    ranked AS (
      SELECT doc_id, term, tfidf,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rn
      FROM scored)
    SELECT doc_id, term, tfidf, rn FROM ranked WHERE rn <= 3
    """,
)
def q69_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textindex import build_docfreq_index

    docs = load_table(spark, sf_dir, "documents")
    docfreq, totals = build_docfreq_index(docs, "text")
    toked = docs.filter(F.col("doc_id") < 50).select("doc_id", tokens("text").alias("tk"))
    tf = (
        toked.select("doc_id", F.explode("tk").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    scored = (
        tf.join(F.broadcast(docfreq), "term")
        .crossJoin(F.broadcast(totals.select("n_docs")))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf").cast("double")
                * F.log(F.col("n_docs").cast("double") / F.col("df").cast("double")),
                4,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("bigint")).filter(F.col("rn") <= 3)
    )


# ---------------------------------------------------------------------------
# q96 — multi_match ranked by BM25 (the reference's /search semantic,
# api.py:210-221: multi_match over title^3 + genres with AUTO fuzziness,
# ranked by Lucene BM25). Here: source^3 + text over documents, query
# terms fuzzily expanded against each field's vocabulary, each expanded
# term BM25-scored with that field's own corpus statistics, field scores
# boost-weighted and summed (most_fields). Per-doc totals left-fold in
# (field, term) order — the oracle protocol for order-independent float
# sums.
# ---------------------------------------------------------------------------
_MM_TERMS = ("sprak", "window")  # AUTO distances: 1 and 2
_MM_BM25_ORACLE = f"""
    WITH d0 AS (SELECT doc_id, {toks_sql("source")} AS tk FROM documents),
    d1 AS (SELECT doc_id, {TOKS_SQL} AS tk FROM documents),
    e AS (
      SELECT 0 AS f, doc_id, len(tk) AS dl, unnest(tk) AS term FROM d0
      UNION ALL
      SELECT 1 AS f, doc_id, len(tk) AS dl, unnest(tk) AS term FROM d1),
    stats AS (
      SELECT 0 AS f, COUNT(*) AS n, SUM(len(tk)) AS sumdl FROM d0
      UNION ALL
      SELECT 1 AS f, COUNT(*) AS n, SUM(len(tk)) AS sumdl FROM d1),
    vocab AS (SELECT f, term, COUNT(DISTINCT doc_id) AS df FROM e GROUP BY f, term),
    exp AS (
      -- ES's max_expansions=50 cut, applied per (field, query term):
      -- rank candidates (edit distance ASC, term ASC) — the engine's
      -- deterministic stand-in for Lucene's boost-ranked enumeration
      -- bound (operators/search.py fuzzy_expand_terms).
      SELECT f, term, df FROM (
        SELECT f, term, df, row_number() OVER (
          PARTITION BY f ORDER BY levenshtein(term, 'sprak') ASC, term ASC) AS rn
        FROM vocab WHERE levenshtein(term, 'sprak') <= 1) WHERE rn <= 50
      UNION ALL
      SELECT f, term, df FROM (
        SELECT f, term, df, row_number() OVER (
          PARTITION BY f ORDER BY levenshtein(term, 'window') ASC, term ASC) AS rn
        FROM vocab WHERE levenshtein(term, 'window') <= 2) WHERE rn <= 50),
    tfs AS (SELECT f, doc_id, dl, term, COUNT(*) AS tf FROM e GROUP BY f, doc_id, dl, term),
    m AS (
      SELECT t.doc_id, t.f, t.term,
             (CASE WHEN t.f = 0 THEN 3.0 ELSE 1.0 END)
             * ln((CAST(s.n AS DOUBLE) - CAST(x.df AS DOUBLE) + 0.5)
                  / (CAST(x.df AS DOUBLE) + 0.5) + 1.0)
             * (CAST(t.tf AS DOUBLE) * 2.2)
               / (CAST(t.tf AS DOUBLE)
                  + 1.2 * ((1.0 - 0.75) + 0.75 * (CAST(t.dl AS DOUBLE)
                    / (CAST(s.sumdl AS DOUBLE) / CAST(s.n AS DOUBLE))))) AS contrib
      FROM tfs t
        JOIN exp x ON t.f = x.f AND t.term = x.term
        JOIN stats s ON s.f = t.f),
    folded AS (
      SELECT doc_id,
             list_reduce(list_prepend(0.0, list(contrib ORDER BY f, term, contrib)),
                         (x, y) -> x + y) AS s
      FROM m GROUP BY doc_id)
    SELECT doc_id, ROUND(s, 4) AS score FROM folded
    ORDER BY score DESC, doc_id ASC LIMIT 10
    """


@register("q96_search_multimatch_bm25", oracle=_MM_BM25_ORACLE)
def q96_search_multimatch_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    scored = S.multi_match_bm25(
        docs, "doc_id", {"source": 3.0, "text": 1.0}, list(_MM_TERMS), fuzzy=True
    )
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(10)


# q97 registers q96's oracle (_MM_BM25_ORACLE): the prebuilt index holds
# exactly the per-field vocabulary/df and corpus stats the inline path
# derives, so the indexed scorer must reproduce the same scores
# bit-for-bit (additionally guarded by
# tests/test_reference_parity.py::test_multimatch_indexed_matches_inline).
@register("q97_search_multimatch_indexed", oracle=_MM_BM25_ORACLE)
def q97_search_multimatch_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q96's /search semantic against the prebuilt per-field index: the
    query-time plan scans the corpus ONCE (index tables supply the
    vocabulary and stats the inline path re-derives). Self-contained
    here — the index is built in the same job; at scale it is written
    as parquet once per corpus snapshot and the query path is unchanged."""
    from ..operators.textindex import build_multimatch_index

    docs = load_table(spark, sf_dir, "documents")
    fields = {"source": 3.0, "text": 1.0}
    vocab, stats = build_multimatch_index(docs, "doc_id", fields)
    scored = S.multi_match_bm25_indexed(
        docs, vocab, stats, "doc_id", fields, list(_MM_TERMS), fuzzy=True
    )
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(10)


# ---------------------------------------------------------------------------
# q100 — keyset ("search_after") pagination: page 2 of the q26 BM25
# ranking via a cursor, not an offset. ES caps from+size at 10k because
# offset pagination materializes and discards `from` rows per page;
# the keyset predicate filters BEFORE the top-k (pushdown-eligible), so
# page depth never raises the cost. The cursor (last (score, doc_id) of
# page 1) is computed declaratively here; a serving layer passes it as
# a literal to operators.relational.keyset_page.
# ---------------------------------------------------------------------------
_BM25_SCORED_CTE = f"""
    WITH dd AS (SELECT doc_id, {TOKS_SQL} AS toks, len({TOKS_SQL}) AS dl FROM documents),
    stats AS (
      SELECT COUNT(*) AS n, SUM(dl) AS sumdl,
             {', '.join(f"SUM(CASE WHEN list_contains(toks, '{t}') THEN 1 ELSE 0 END) AS df{i}" for i, t in enumerate(_BM25_TERMS))}
      FROM dd),
    scored AS (
      SELECT doc_id,
             ROUND(({' + '.join(_bm25_term_sql(t, i) for i, t in enumerate(_BM25_TERMS))}) * 1.0, 4) AS score
      FROM dd CROSS JOIN stats),
    p1 AS (SELECT doc_id, score FROM scored ORDER BY score DESC, doc_id ASC LIMIT 10),
    cur AS (SELECT score AS cs, doc_id AS cid FROM p1 ORDER BY score ASC, doc_id DESC LIMIT 1)
"""


@register(
    "q100_keyset_pagination",
    oracle=f"""
    {_BM25_SCORED_CTE}
    SELECT doc_id, score FROM scored, cur
    WHERE score < cs OR (score = cs AND doc_id > cid)
    ORDER BY score DESC, doc_id ASC LIMIT 10
    """,
)
def q100_keyset_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    scored = S.bm25_score(docs, "text", list(_BM25_TERMS)).select("doc_id", "score")
    page1 = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(10)
    cursor = (
        page1.orderBy(F.asc("score"), F.desc("doc_id"))
        .limit(1)
        .select(F.col("score").alias("__cs"), F.col("doc_id").alias("__cid"))
    )
    return (
        scored.crossJoin(F.broadcast(cursor))
        .filter(
            (F.col("score") < F.col("__cs"))
            | ((F.col("score") == F.col("__cs")) & (F.col("doc_id") > F.col("__cid")))
        )
        .select("doc_id", "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# q137 — BATCHED more-like-this against the prebuilt postings index
# (closes q28's "per-query full-corpus scan" weakness): a whole batch of
# target docs answered with ONE token equi-join against the inverted
# index + a per-target window top-k. Same overlap semantics as q28
# (reference api.py:124-135) — bit-identical for a singleton batch
# (tests/test_search.py); the postings join replaces the per-request
# corpus scan, so a serving tier issues N requests for the cost of one
# index pass. Overlap counts are exact integers — no rounding to defend.
# ---------------------------------------------------------------------------
_MLT_BATCH = (0, 7, 42)


@register(
    "q137_mlt_indexed_batch",
    oracle=f"""
    WITH p AS (SELECT doc_id, unnest(list_distinct({TOKS_SQL})) AS term FROM documents),
    t AS (SELECT doc_id AS qid, term FROM p WHERE doc_id IN {_MLT_BATCH}),
    ov AS (
      SELECT t.qid, p.doc_id, CAST(COUNT(*) AS BIGINT) AS overlap
      FROM p JOIN t ON p.term = t.term
      WHERE p.doc_id != t.qid
      GROUP BY t.qid, p.doc_id)
    SELECT qid, doc_id, overlap, CAST(rn AS BIGINT) AS rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY overlap DESC, doc_id ASC) AS rn
      FROM ov)
    WHERE rn <= 5
    ORDER BY qid, rank
    """,
)
def q137_mlt_indexed_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-contained here — the postings index is built in the same job
    (one corpus scan); at scale it is written as parquet bucketed by
    term once per corpus snapshot and the query path below is unchanged
    (and then touches the corpus zero times — plan-guarded in
    tests/test_plans.py with a persisted index)."""
    from ..operators.textindex import build_token_postings, more_like_this_batch

    docs = load_table(spark, sf_dir, "documents")
    postings = build_token_postings(docs, "doc_id", "text")
    return more_like_this_batch(postings, list(_MLT_BATCH), k=5)


# ---------------------------------------------------------------------------
# q238 — indexed phrase search over positional postings: the q22
# match_phrase semantics (contiguous token containment), answered for a
# BATCH of phrases from a persistable (term, doc_id, pos) index instead
# of a per-request corpus LIKE scan. Positional intersection on
# anchor = pos - i; equivalence with the LIKE predicate is pinned in
# tests/test_plans_ext2.py.
# ---------------------------------------------------------------------------
_PHRASE_BATCH = ("fast sort", "stream table hash", "row column sort", "no such phrase here")


def _sql_str(s: str) -> str:
    """Single-quoted SQL string literal with '' escaping — every
    constant interpolated into an oracle VALUES list goes through here
    so a future phrase containing a quote cannot break the SQL."""
    return "'" + s.replace("'", "''") + "'"


def _phrase_values_sql() -> str:
    vals = ", ".join(
        f"({_sql_str(ph)}, {i}, {_sql_str(t)})"
        for ph in _PHRASE_BATCH
        for i, t in enumerate(ph.split())
    )
    return f"(VALUES {vals}) AS v(phrase, i, term)"


@register(
    "q238_phrase_indexed_batch",
    oracle=f"""
    WITH t AS (SELECT doc_id, {TOKS_SQL} AS tk FROM documents),
    post AS (
      SELECT doc_id, u.e.i AS pos, u.e.t AS term
      FROM t, UNNEST(list_transform(range(1, len(tk)+1),
                     i -> struct_pack(i := i, t := tk[i]))) AS u(e)),
    ph AS (SELECT * FROM {_phrase_values_sql()}),
    pn AS (SELECT phrase, COUNT(*) AS n FROM ph GROUP BY phrase),
    j AS (
      SELECT ph.phrase, post.doc_id, post.pos - ph.i AS anchor, ph.i
      FROM post JOIN ph ON post.term = ph.term),
    hit AS (
      SELECT phrase, doc_id, anchor, COUNT(DISTINCT i) AS nt
      FROM j GROUP BY phrase, doc_id, anchor)
    SELECT DISTINCT h.phrase AS phrase, h.doc_id AS doc_id
    FROM hit h JOIN pn ON h.phrase = pn.phrase AND h.nt = pn.n
    ORDER BY h.phrase, h.doc_id
    """,
)
def q238_phrase_indexed_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textindex import build_positional_postings, phrase_search_batch

    docs = load_table(spark, sf_dir, "documents")
    postings = build_positional_postings(docs, "doc_id", "text")
    return phrase_search_batch(postings, list(_PHRASE_BATCH))


# ---------------------------------------------------------------------------
# q243 — completion suggester (ES "search-as-you-type"): for a batch of
# typed prefixes, the top-5 vocabulary terms by document frequency.
# The vocab(term, df) table is the q68 docfreq index — persistable, so
# the per-keystroke query path scans the SMALL vocab only, never the
# corpus; a range-partitioned vocab makes a prefix probe a partition-
# pruned scan at any scale. Deterministic rank: (df DESC, term ASC).
# ---------------------------------------------------------------------------
# 1-char prefixes: the synthetic corpus has a 31-token vocabulary,
# so longer prefixes would return single-candidate suggestions
_SUGGEST_PREFIXES = ("s", "c", "w", "zzz")


@register(
    "q243_autocomplete_suggest",
    oracle=f"""
    WITH tok AS (SELECT doc_id, unnest(list_distinct({TOKS_SQL})) AS term FROM documents),
    vocab AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tok GROUP BY term),
    p AS (SELECT * FROM (VALUES {", ".join(f"({_sql_str(p)})" for p in _SUGGEST_PREFIXES)}) AS v(prefix)),
    ranked AS (
      SELECT p.prefix, v.term, v.df,
             ROW_NUMBER() OVER (PARTITION BY p.prefix ORDER BY v.df DESC, v.term ASC) AS rn
      FROM p JOIN vocab v ON v.term LIKE p.prefix || '%')
    SELECT prefix, term, df, CAST(rn AS BIGINT) AS rank
    FROM ranked WHERE rn <= 5
    ORDER BY prefix, rank
    """,
)
def q243_autocomplete_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textindex import build_token_postings

    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        build_token_postings(docs, "doc_id", "text")
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    )
    prefixes = spark.createDataFrame(
        [(p,) for p in _SUGGEST_PREFIXES], "prefix string"
    )
    j = vocab.join(
        F.broadcast(prefixes), F.col("term").startswith(F.col("prefix"))
    )
    w = Window.partitionBy("prefix").orderBy(F.desc("df"), F.asc("term"))
    return (
        j.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= 5)
        .select("prefix", "term", "df", "rank")
        .orderBy("prefix", "rank")
    )


# ---------------------------------------------------------------------------
# q244 — term suggester / "did you mean" (ES term-suggest analog): for a
# batch of misspelled terms, the top-3 vocabulary corrections within
# Levenshtein distance 2, ranked (distance ASC, df DESC, term ASC).
# Candidate pruning before the edit-distance evaluation: |len diff| <= 2
# (a necessary condition), so the vocab scan evaluates levenshtein only
# on the length band — at scale, a vocab bucketed by length makes this
# a partition-pruned probe. The probe terms broadcast; the corpus is
# never touched (vocab = persisted q68 index).
# ---------------------------------------------------------------------------
_SPELL_TERMS = ("spak", "qury", "windoow", "xyzzy")


@register(
    "q244_spell_suggest",
    oracle=f"""
    WITH tok AS (SELECT doc_id, unnest(list_distinct({TOKS_SQL})) AS term FROM documents),
    vocab AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tok GROUP BY term),
    m AS (SELECT * FROM (VALUES {", ".join(f"({_sql_str(t)})" for t in _SPELL_TERMS)}) AS v(misspelled)),
    cand AS (
      SELECT m.misspelled, v.term, v.df,
             CAST(levenshtein(m.misspelled, v.term) AS INT) AS dist
      FROM m JOIN vocab v
        ON abs(len(v.term) - len(m.misspelled)) <= 2
      WHERE levenshtein(m.misspelled, v.term) <= 2),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY misspelled
                                   ORDER BY dist ASC, df DESC, term ASC) AS rn
      FROM cand)
    SELECT misspelled, term, dist, df, CAST(rn AS BIGINT) AS rank
    FROM ranked WHERE rn <= 3
    ORDER BY misspelled, rank
    """,
)
def q244_spell_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textindex import build_token_postings

    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        build_token_postings(docs, "doc_id", "text")
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    )
    probes = spark.createDataFrame(
        [(t,) for t in _SPELL_TERMS], "misspelled string"
    )
    cand = (
        vocab.join(
            F.broadcast(probes),
            F.abs(F.length("term") - F.length("misspelled")) <= 2,
        )
        .withColumn("dist", F.levenshtein("misspelled", "term").cast("int"))
        .filter(F.col("dist") <= 2)
    )
    w = Window.partitionBy("misspelled").orderBy(
        F.asc("dist"), F.desc("df"), F.asc("term")
    )
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= 3)
        .select("misspelled", "term", "dist", "df", "rank")
        .orderBy("misspelled", "rank")
    )


# ---------------------------------------------------------------------------
# q246 — highlight snippets (ES "highlight" analog): for docs matching a
# term, a +/-20-char window of NORMALIZED text around the FIRST
# occurrence. Pure string expressions (locate/substr) — map-side only,
# pushes the match predicate to the scan.
# ---------------------------------------------------------------------------
_HL_TERM = "spark"


@register(
    "q246_highlight",
    oracle=f"""
    WITH d AS (SELECT doc_id, {NORM_SQL} AS nt FROM documents),
    m AS (SELECT doc_id, nt, position('{_HL_TERM}' IN nt) AS pos FROM d WHERE position('{_HL_TERM}' IN nt) > 0)
    SELECT doc_id, CAST(pos AS BIGINT) AS pos,
           substr(nt, CASE WHEN pos - 20 > 1 THEN pos - 20 ELSE 1 END,
                  (pos - CASE WHEN pos - 20 > 1 THEN pos - 20 ELSE 1 END)
                  + {len(_HL_TERM)} + 20) AS snippet
    FROM m ORDER BY doc_id
    """,
)
def q246_highlight(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select("doc_id", normalize_text(F.col("text")).alias("nt"))
    m = d.withColumn("pos", F.locate(_HL_TERM, F.col("nt"))).filter(F.col("pos") > 0)
    start = F.when(F.col("pos") - 20 > 1, F.col("pos") - 20).otherwise(F.lit(1))
    # true +/-20 window: (pos - start) leading chars + term + 20 trailing
    # (a fixed 40+len width would hand early matches up to 40 chars of
    # trailing context)
    length = (F.col("pos") - start) + F.lit(len(_HL_TERM) + 20)
    return (
        m.select(
            "doc_id",
            F.col("pos").cast("bigint").alias("pos"),
            F.substring(F.col("nt"), start, length).alias("snippet"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# q247 — percolator (ES reverse search): match every document against a
# TABLE OF STORED QUERIES (alerting/subscription matching). A stored
# query is a term set + minimum_should_match; a doc matches when its
# distinct tokens cover >= min_match of the query's terms. The query
# table explodes to (query_id, term) and BROADCASTS against the token
# postings — one corpus-side shuffle on (query_id, doc_id), no per-query
# scans; at 100 TB this is the standard fan-in alerting join.
# ---------------------------------------------------------------------------
_PERC_QUERIES = (
    ("alert_spark_join", ("spark", "join"), 2),
    ("alert_stream_any", ("stream", "window", "watermark"), 1),
    ("alert_fast_scan", ("fast", "scan", "filter"), 2),
    ("alert_impossible", ("zzz", "qqq"), 1),
)


@register(
    "q247_percolator",
    oracle=f"""
    WITH tok AS (SELECT doc_id, unnest(list_distinct({TOKS_SQL})) AS term FROM documents),
    q AS (SELECT * FROM (VALUES {", ".join(f"({_sql_str(qid)}, [{', '.join(_sql_str(t) for t in ts)}], {mm})" for qid, ts, mm in _PERC_QUERIES)})
          AS v(query_id, terms, min_match)),
    qt AS (SELECT query_id, min_match, unnest(terms) AS term FROM q),
    hits AS (
      SELECT qt.query_id, qt.min_match, tok.doc_id, COUNT(DISTINCT qt.term) AS matched
      FROM qt JOIN tok ON qt.term = tok.term
      GROUP BY qt.query_id, qt.min_match, tok.doc_id)
    SELECT q.query_id, CAST(COALESCE(h.n, 0) AS BIGINT) AS n_matching_docs
    FROM q LEFT JOIN (
      SELECT query_id, COUNT(*) AS n FROM hits WHERE matched >= min_match GROUP BY query_id) h
      ON q.query_id = h.query_id
    ORDER BY q.query_id
    """,
)
def q247_percolator(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textindex import build_token_postings

    docs = load_table(spark, sf_dir, "documents")
    tok = build_token_postings(docs, "doc_id", "text")
    q = spark.createDataFrame(
        [(qid, list(ts), mm) for qid, ts, mm in _PERC_QUERIES],
        "query_id string, terms array<string>, min_match int",
    )
    qt = q.select("query_id", "min_match", F.explode("terms").alias("term"))
    hits = (
        tok.join(F.broadcast(qt), "term")
        .groupBy("query_id", "min_match", "doc_id")
        .agg(F.countDistinct("term").alias("matched"))
        .filter(F.col("matched") >= F.col("min_match"))
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        q.select("query_id")
        .join(hits, "query_id", "left")
        .select(
            "query_id", F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_matching_docs")
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# q250 — sloppy phrase match (ES match_phrase slop>0, WITH
# transpositions): the q238 positional-postings batch generalized to
# ES's full sloppy semantics — a phrase matches when some slot→position
# assignment has offset-adjusted spread max_i(pos_i - i) - min_i(pos_i
# - i) <= slop. Ordered certificates reduce to the familiar total-gap
# formula (slop=0 = the contiguous q22/q238 match, property-pinned);
# a transposed adjacent pair costs 2 — ES's documented rule (round-5
# VERDICT "missing" #3 closed). Phrases with repeated terms stay on the
# ordered-only path (documented subset; none in this batch).
# The reference only ever uses default slop=0 (/root/reference/src/
# api.py:91-93); this generalizes beyond the reference surface.
# Oracle: per-phrase n-way positional self-join with NO ordering
# constraint and the spread bound via greatest/least over the adjusted
# positions — an independent formulation of the same exists-certificate.
# ---------------------------------------------------------------------------
_SLOP_PHRASES = ("fast sort", "key scan query", "stream table hash", "agg zzz")
_SLOP = 2


def _slop_phrase_block(ph: str, slop: int) -> str:
    ts = ph.split()
    n = len(ts)
    if len(set(ts)) == n:
        # distinct-term phrase: transposition-admitting spread bound
        # (injectivity is automatic — one term per position)
        joins = "\n      ".join(
            f"JOIN post o{i} ON o{i}.doc_id = o0.doc_id AND o{i}.term = {_sql_str(ts[i])}"
            for i in range(1, n)
        )
        adj = ", ".join(f"o{i}.pos - {i}" for i in range(n))
        span = f"AND greatest({adj}) - least({adj}) <= {slop}" if n > 1 else ""
        return (
            f"SELECT DISTINCT {_sql_str(ph)} AS phrase, o0.doc_id AS doc_id\n"
            f"      FROM post o0 {joins}\n"
            f"      WHERE o0.term = {_sql_str(ts[0])} {span}"
        )
    # repeated-term phrase: ordered-within-window subset
    joins = "\n      ".join(
        f"JOIN post o{i} ON o{i}.doc_id = o0.doc_id AND o{i}.term = {_sql_str(ts[i])}"
        f" AND o{i}.pos > o{i - 1}.pos"
        for i in range(1, n)
    )
    span = f"AND o{n - 1}.pos - o0.pos <= {n - 1 + slop}" if n > 1 else ""
    return (
        f"SELECT DISTINCT {_sql_str(ph)} AS phrase, o0.doc_id AS doc_id\n"
        f"      FROM post o0 {joins}\n"
        f"      WHERE o0.term = {_sql_str(ts[0])} {span}"
    )


@register(
    "q250_phrase_slop_batch",
    oracle=f"""
    WITH t AS (SELECT doc_id, {TOKS_SQL} AS tk FROM documents),
    post AS (
      SELECT doc_id, u.e.i AS pos, u.e.t AS term
      FROM t, UNNEST(list_transform(range(1, len(tk)+1),
                     i -> struct_pack(i := i, t := tk[i]))) AS u(e)),
    hits AS ({" UNION ALL ".join(_slop_phrase_block(ph, _SLOP) for ph in _SLOP_PHRASES)})
    SELECT phrase, doc_id FROM hits ORDER BY phrase, doc_id
    """,
)
def q250_phrase_slop_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textindex import build_positional_postings, phrase_search_slop_batch

    docs = load_table(spark, sf_dir, "documents")
    postings = build_positional_postings(docs, "doc_id", "text")
    return phrase_search_slop_batch(postings, list(_SLOP_PHRASES), slop=_SLOP)


# ---------------------------------------------------------------------------
# q251 — bounded fuzzy expansion (ES fuzzy knobs prefix_length /
# max_expansions, round-4 VERDICT "missing" #2): q97's indexed
# multi_match with prefix_length=1 and max_expansions=3. Candidates come
# from an equi-join on the shared 1-char prefix (the vocab bucketed by
# substring, the relational analog of Lucene's automaton pruning —
# plan-guarded in tests/test_plans_ext2.py) and each (field, query term)
# keeps only its 3 closest candidates (distance ASC, term ASC). On this
# corpus the bound BITES: 'src1' alone has ~20 source-vocabulary terms
# within distance 1; only {src1, src0, src10} survive.
# ---------------------------------------------------------------------------
_MM_BOUNDED_TERMS = ("src1", "stram")  # AUTO distances: 1 and 1
_MM_PFX = 1
_MM_MAXEXP = 3


def _bounded_exp_sql() -> str:
    from ..operators.search import auto_fuzziness

    blocks = " UNION ALL ".join(
        f"""SELECT f, term, df, {_sql_str(q)} AS q, levenshtein(term, {_sql_str(q)}) AS dist
        FROM vocab
        WHERE substring(term, 1, {_MM_PFX}) = substring({_sql_str(q)}, 1, {_MM_PFX})
          AND levenshtein(term, {_sql_str(q)}) <= {auto_fuzziness(q)}"""
        for q in _MM_BOUNDED_TERMS
    )
    return f"""expc AS ({blocks}),
    exp AS (
      SELECT f, term, df FROM (
        SELECT f, term, df,
               ROW_NUMBER() OVER (PARTITION BY f, q ORDER BY dist, term) AS rn
        FROM expc) WHERE rn <= {_MM_MAXEXP})"""


@register(
    "q251_search_fuzzy_bounded",
    oracle=f"""
    WITH d0 AS (SELECT doc_id, {toks_sql("source")} AS tk FROM documents),
    d1 AS (SELECT doc_id, {TOKS_SQL} AS tk FROM documents),
    e AS (
      SELECT 0 AS f, doc_id, len(tk) AS dl, unnest(tk) AS term FROM d0
      UNION ALL
      SELECT 1 AS f, doc_id, len(tk) AS dl, unnest(tk) AS term FROM d1),
    stats AS (
      SELECT 0 AS f, COUNT(*) AS n, SUM(len(tk)) AS sumdl FROM d0
      UNION ALL
      SELECT 1 AS f, COUNT(*) AS n, SUM(len(tk)) AS sumdl FROM d1),
    vocab AS (SELECT f, term, COUNT(DISTINCT doc_id) AS df FROM e GROUP BY f, term),
    {_bounded_exp_sql()},
    tfs AS (SELECT f, doc_id, dl, term, COUNT(*) AS tf FROM e GROUP BY f, doc_id, dl, term),
    m AS (
      SELECT t.doc_id, t.f, t.term,
             (CASE WHEN t.f = 0 THEN 3.0 ELSE 1.0 END)
             * ln((CAST(s.n AS DOUBLE) - CAST(x.df AS DOUBLE) + 0.5)
                  / (CAST(x.df AS DOUBLE) + 0.5) + 1.0)
             * (CAST(t.tf AS DOUBLE) * 2.2)
               / (CAST(t.tf AS DOUBLE)
                  + 1.2 * ((1.0 - 0.75) + 0.75 * (CAST(t.dl AS DOUBLE)
                    / (CAST(s.sumdl AS DOUBLE) / CAST(s.n AS DOUBLE))))) AS contrib
      FROM tfs t
        JOIN exp x ON t.f = x.f AND t.term = x.term
        JOIN stats s ON s.f = t.f),
    folded AS (
      SELECT doc_id,
             list_reduce(list_prepend(0.0, list(contrib ORDER BY f, term, contrib)),
                         (x, y) -> x + y) AS s
      FROM m GROUP BY doc_id)
    SELECT doc_id, ROUND(s, 4) AS score FROM folded
    ORDER BY score DESC, doc_id ASC LIMIT 10
    """,
)
def q251_search_fuzzy_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textindex import build_multimatch_index

    docs = load_table(spark, sf_dir, "documents")
    fields = {"source": 3.0, "text": 1.0}
    vocab, stats = build_multimatch_index(docs, "doc_id", fields)
    scored = S.multi_match_bm25_indexed(
        docs, vocab, stats, "doc_id", fields, list(_MM_BOUNDED_TERMS),
        fuzzy=True, prefix_length=_MM_PFX, max_expansions=_MM_MAXEXP,
    )
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(10)


# ---------------------------------------------------------------------------
# q254 — significant_terms (ES significant-terms aggregation, JLH score):
# terms over-represented in a FOREGROUND doc set (lang='fr') relative to
# the whole corpus.  JLH = (fg_pct - bg_pct) * (fg_pct / bg_pct) over
# distinct-doc frequencies; only positively-significant terms
# (fg_pct > bg_pct) are returned, ES-style.  Shape: ONE corpus scan,
# explode distinct tokens, ONE shuffle on term with conditional
# aggregation (fg and bg doc-frequencies in the same groupBy), corpus
# totals broadcast onto the 31-row term frame.  Both engines compute the
# score with the identical double expression order, so the round-6
# values hash-match.
# ---------------------------------------------------------------------------
_SIG_FG_LANG = "fr"


@register(
    "q254_significant_terms",
    oracle=f"""
    WITH tok AS (SELECT doc_id, lang, unnest(list_distinct({TOKS_SQL})) AS term
                 FROM documents),
    tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_bg,
                   CAST(SUM(CASE WHEN lang = {_sql_str(_SIG_FG_LANG)} THEN 1 ELSE 0 END) AS DOUBLE) AS n_fg
            FROM documents),
    tf AS (SELECT term,
                  CAST(COUNT(*) AS BIGINT) AS bg_df,
                  CAST(SUM(CASE WHEN lang = {_sql_str(_SIG_FG_LANG)} THEN 1 ELSE 0 END) AS BIGINT) AS fg_df
           FROM tok GROUP BY term),
    s AS (SELECT term, fg_df, bg_df,
                 (CAST(fg_df AS DOUBLE) / n_fg - CAST(bg_df AS DOUBLE) / n_bg)
                 * ((CAST(fg_df AS DOUBLE) / n_fg) / (CAST(bg_df AS DOUBLE) / n_bg)) AS jlh
          FROM tf CROSS JOIN tot
          WHERE CAST(fg_df AS DOUBLE) / n_fg > CAST(bg_df AS DOUBLE) / n_bg)
    SELECT term, fg_df, bg_df, ROUND(jlh, 6) AS jlh
    FROM s ORDER BY jlh DESC, term ASC LIMIT 10
    """,
)
def q254_significant_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "lang", F.explode(F.array_distinct(tokens("text"))).alias("term")
    )
    tot = docs.agg(
        F.count(F.lit(1)).cast("double").alias("n_bg"),
        F.sum(F.when(F.col("lang") == _SIG_FG_LANG, 1).otherwise(0)).cast("double").alias("n_fg"),
    )
    tf = tok.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("bg_df"),
        F.sum(F.when(F.col("lang") == _SIG_FG_LANG, 1).otherwise(0)).cast("bigint").alias("fg_df"),
    )
    fg_pct = F.col("fg_df").cast("double") / F.col("n_fg")
    bg_pct = F.col("bg_df").cast("double") / F.col("n_bg")
    jlh = (fg_pct - bg_pct) * (fg_pct / bg_pct)
    return (
        tf.crossJoin(F.broadcast(tot))
        .filter(fg_pct > bg_pct)
        .select("term", "fg_df", "bg_df", F.round(jlh, 6).alias("jlh"))
        .orderBy(F.desc("jlh"), F.asc("term"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# q255 — composite aggregation with after-key (ES composite agg, the
# scale-safe way to page over ALL buckets of a group-by): buckets keyed
# (lang, source) with doc counts, resumed AFTER a cursor bucket. The
# after-tuple predicate + orderBy + limit compiles to one partial-agg
# shuffle and a TakeOrderedAndProject — page N costs the same as page 1,
# no global sort, no OFFSET skip-scan (the q100 keyset idiom lifted from
# rows to aggregation buckets).
# ---------------------------------------------------------------------------
_COMPOSITE_AFTER = ("en", "src12")  # cursor: last bucket of the prior page
_COMPOSITE_SIZE = 5


@register(
    "q255_composite_agg_pagination",
    oracle=f"""
    SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS doc_count
    FROM documents
    GROUP BY lang, source
    HAVING (lang, source) > ({_sql_str(_COMPOSITE_AFTER[0])}, {_sql_str(_COMPOSITE_AFTER[1])})
    ORDER BY lang, source
    LIMIT {_COMPOSITE_SIZE}
    """,
)
def q255_composite_agg_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread=False: pure scan-aggregate — the partial agg collapses the
    # table on the scan task, so the round-5 "ONE exchange" contract
    # (test_round5_plan_shapes) holds and no full-row shuffle is paid.
    docs = load_table(spark, sf_dir, "documents", spread=False)
    a_lang, a_src = _COMPOSITE_AFTER
    after = (F.col("lang") > a_lang) | (
        (F.col("lang") == a_lang) & (F.col("source") > a_src)
    )
    return (
        docs.groupBy("lang", "source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("doc_count"))
        .filter(after)
        .orderBy("lang", "source")
        .limit(_COMPOSITE_SIZE)
    )


# ---------------------------------------------------------------------------
# q256 — function_score with gauss decay (ES decay scoring): relevance
# decays with distance from an origin on a numeric field,
# score = exp(ln(decay) * (max(0, |x - origin| - offset) / scale)^2).
# Pure column math in one projection — whole-stage codegen, zero
# shuffles before the top-k; both engines evaluate the identical double
# expression order so round-6 scores hash-match.
# ---------------------------------------------------------------------------
_GAUSS = {"origin": 200.0, "offset": 10.0, "scale": 100.0, "decay": 0.5}
# ln(decay) is computed ONCE in Python and embedded as the same literal
# in both engines: a SQL-side ln() would go through DuckDB's libm, which
# is not guaranteed bit-identical to the JVM's (1-ulp variance could
# flip a round-6 knife-edge at some scale factor).
_GAUSS_LN_DECAY = __import__("math").log(_GAUSS["decay"])


@register(
    "q256_function_score_decay",
    oracle=f"""
    SELECT doc_id,
           ROUND(exp({_GAUSS_LN_DECAY!r} *
             pow(greatest(abs(CAST(n_chars AS DOUBLE) - {_GAUSS["origin"]!r}) - {_GAUSS["offset"]!r}, 0.0)
                 / {_GAUSS["scale"]!r}, 2)), 6) AS score
    FROM documents
    ORDER BY score DESC, doc_id ASC
    LIMIT 10
    """,
)
def q256_function_score_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    g = _GAUSS
    docs = load_table(spark, sf_dir, "documents")
    dist = F.greatest(
        F.abs(F.col("n_chars").cast("double") - F.lit(g["origin"])) - F.lit(g["offset"]),
        F.lit(0.0),
    )
    score = F.exp(F.lit(math.log(g["decay"])) * F.pow(dist / F.lit(g["scale"]), F.lit(2.0)))
    return (
        docs.select("doc_id", F.round(score, 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# q257 — field collapsing with inner_hits (ES collapse): one TOP hit per
# collapse key (source) ranked by (n_chars DESC, doc_id ASC), carrying
# the top-3 inner hit ids per key. Single window per key — Spark's
# WindowGroupLimit pushes the rank cut into the shuffle map side, so
# only <=3 rows per key survive the exchange at any corpus size.
# ---------------------------------------------------------------------------
@register(
    "q257_field_collapse",
    oracle="""
    WITH r AS (
      SELECT source, doc_id, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id ASC) AS rn
      FROM documents)
    SELECT source,
           MAX(CASE WHEN rn = 1 THEN doc_id END) AS top_doc_id,
           CAST(MAX(CASE WHEN rn = 1 THEN n_chars END) AS BIGINT) AS top_n_chars,
           list(doc_id ORDER BY rn) AS inner_hits
    FROM r WHERE rn <= 3
    GROUP BY source
    ORDER BY source
    """,
)
def q257_field_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    r = docs.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 3)
    return (
        r.groupBy("source")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("doc_id"))).alias("top_doc_id"),
            F.max(F.when(F.col("rn") == 1, F.col("n_chars"))).cast("bigint").alias("top_n_chars"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "doc_id"))), lambda s: s["doc_id"]
            ).alias("inner_hits"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q258 — adjacency_matrix aggregation (ES): doc counts for each named
# filter and each pairwise intersection. ONE corpus scan, conditional
# sums in a single partial-aggregated reduce to one row, then an inline
# unpivot to (key, doc_count) — the standard way to get N^2 filter
# intersections without N^2 scans.
# ---------------------------------------------------------------------------
@register(
    "q258_adjacency_matrix",
    oracle=f"""
    WITH f AS (
      SELECT CAST(lang = 'en' AS INT) AS a,
             CAST(lang = 'fr' AS INT) AS b,
             CAST(list_contains({TOKS_SQL}, 'spark') AS INT) AS c
      FROM documents),
    s AS (SELECT CAST(SUM(a) AS BIGINT) AS a, CAST(SUM(b) AS BIGINT) AS b,
                 CAST(SUM(c) AS BIGINT) AS c,
                 CAST(SUM(a * b) AS BIGINT) AS ab, CAST(SUM(a * c) AS BIGINT) AS ac,
                 CAST(SUM(b * c) AS BIGINT) AS bc
          FROM f)
    SELECT k AS key, v AS doc_count FROM s,
      LATERAL (VALUES ('en', a), ('fr', b), ('has_spark', c),
                      ('en&fr', ab), ('en&has_spark', ac), ('fr&has_spark', bc)) AS t(k, v)
    ORDER BY key
    """,
)
def q258_adjacency_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    f = docs.select(
        (F.col("lang") == "en").cast("int").alias("a"),
        (F.col("lang") == "fr").cast("int").alias("b"),
        F.array_contains(tokens("text"), "spark").cast("int").alias("c"),
    )
    s = f.agg(
        F.sum("a").cast("bigint").alias("a"),
        F.sum("b").cast("bigint").alias("b"),
        F.sum("c").cast("bigint").alias("c"),
        F.sum(F.col("a") * F.col("b")).cast("bigint").alias("ab"),
        F.sum(F.col("a") * F.col("c")).cast("bigint").alias("ac"),
        F.sum(F.col("b") * F.col("c")).cast("bigint").alias("bc"),
    )
    pairs = F.explode(
        F.array(
            F.struct(F.lit("en").alias("key"), F.col("a").alias("doc_count")),
            F.struct(F.lit("fr").alias("key"), F.col("b").alias("doc_count")),
            F.struct(F.lit("has_spark").alias("key"), F.col("c").alias("doc_count")),
            F.struct(F.lit("en&fr").alias("key"), F.col("ab").alias("doc_count")),
            F.struct(F.lit("en&has_spark").alias("key"), F.col("ac").alias("doc_count")),
            F.struct(F.lit("fr&has_spark").alias("key"), F.col("bc").alias("doc_count")),
        )
    )
    return (
        s.select(pairs.alias("e"))
        .select(F.col("e.key").alias("key"), F.col("e.doc_count").alias("doc_count"))
        .orderBy("key")
    )


# ---------------------------------------------------------------------------
# q259 — diversified_sampler aggregation (ES): cap the sample at
# max_docs_per_value=2 per diversity field (source) under a
# DETERMINISTIC priority (md5 of doc_id — the engine's portable hash
# discipline), then aggregate over the diversified sample (mean n_chars
# per lang). The per-key cap is one window row_number — WindowGroupLimit
# map-side — so no source can dominate the downstream statistic
# regardless of corpus skew.
# ---------------------------------------------------------------------------
@register(
    "q259_diversified_sampler",
    oracle="""
    WITH r AS (
      SELECT lang, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents)
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_sampled,
           ROUND(AVG(CAST(n_chars AS DOUBLE)), 4) AS avg_chars
    FROM r WHERE rn <= 2
    GROUP BY lang ORDER BY lang
    """,
)
def q259_diversified_sampler(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sampled"),
            F.round(F.avg(F.col("n_chars").cast("double")), 4).alias("avg_chars"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# q264–q266 — ES document-hierarchy queries (round-5 VERDICT "missing"
# #2, the last unimplemented ES query family; the reference's stack
# ships ES with join/nested support, docker-compose.yml:32, though
# src/api.py only issues flat queries). orders/lineitem is the natural
# parent/child fixture.
# ---------------------------------------------------------------------------


@register(
    "q264_has_child",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem WHERE l_quantity >= 45
      GROUP BY l_orderkey HAVING COUNT(*) >= 2)
    ORDER BY o_orderkey
    """,
)
def q264_has_child(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``has_child`` with ``min_children``: orders having >= 2
    lineitems of quantity >= 45. Child side filters + aggregates to a
    key set, then a LEFT-SEMI join back — the parent table is never
    widened (operators/search.py:has_child)."""
    from ..operators.search import has_child

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        has_child(
            orders, lineitem, "o_orderkey", "l_orderkey",
            F.col("l_quantity") >= 45.0, min_children=2,
        )
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .orderBy("o_orderkey")
    )


@register(
    "q265_has_parent",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
    WHERE l_orderkey IN (
      SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
    ORDER BY l_orderkey, l_linenumber
    """,
)
def q265_has_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``has_parent``: lineitems whose order is 1-URGENT — a LEFT-SEMI
    join against the filtered parent key set; the child payload never
    crosses the exchange twice (operators/search.py:has_parent)."""
    from ..operators.search import has_parent

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        has_parent(
            lineitem, orders, "o_orderkey", "l_orderkey",
            F.col("o_orderpriority") == "1-URGENT",
        )
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")
    )


@register(
    "q266_nested_match",
    oracle="""
    SELECT o.o_orderkey, CAST(x.n_hits AS BIGINT) AS n_hits
    FROM orders o JOIN (
      SELECT l_orderkey, COUNT(*) AS n_hits FROM lineitem
      WHERE l_returnflag = 'R' AND l_quantity > 45
      GROUP BY l_orderkey) x
    ON o.o_orderkey = x.l_orderkey
    ORDER BY o.o_orderkey
    """,
)
def q266_nested_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``nested`` query over the nested data model: lineitems collapse
    into a sorted struct array per order (nest_children — the write-once
    layout; at scale the nested table persists and nested queries are
    single-table scans), then the document matches iff ONE nested object
    satisfies the WHOLE predicate (returnflag='R' AND quantity>45 on the
    SAME lineitem — the semantic that distinguishes nested from ES
    object mapping, where conditions may be met by different children;
    the distinction is pinned by a unit test). exists()/filter() run
    in-partition JVM-side — the only exchanges are the nest groupBy and
    the parent join."""
    from ..operators.search import nest_children, nested_match

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    nested = nest_children(
        orders, lineitem, "o_orderkey", "l_orderkey",
        ["l_linenumber", "l_quantity", "l_returnflag"], out="items",
    )
    pred = lambda it: (it["l_returnflag"] == "R") & (it["l_quantity"] > 45.0)  # noqa: E731
    return (
        nested_match(nested, "items", pred)
        .select(
            "o_orderkey",
            F.size(F.filter("items", pred)).cast("bigint").alias("n_hits"),
        )
        .orderBy("o_orderkey")
    )


# ---------------------------------------------------------------------------
# q272 — TRUE ES more_like_this: unlike the reference's genre-overlap
# recommender (q28's token-set overlap, api.py:138-145), the real ES MLT
# first selects the seed document's most significant terms by TF-IDF
# (max_query_terms, default 25 — here 10) and then ranks other docs by
# BM25 over the SELECTED terms. The whole lifecycle stays in the plan:
# the seed's term frame joins the vocabulary (broadcast of the ~|doc|
# seed terms), a window picks the top terms (ROUND(tfidf, 6) DESC, term
# ASC — the repo's float-ordering protocol), the winners broadcast onto
# the corpus tf frame, and per-doc scores left-fold in sorted term order
# for bit-stable totals. No .collect() anywhere — the "like" document
# drives term selection inside the query itself.
#
# Shape (100 TB): the token explode materializes ONCE (localCheckpoint —
# tfs feeds vocabulary, seed selection, and scoring); seed frame and
# selected-terms frame are broadcast; the one corpus-sized shuffle is
# the (doc, term) tf aggregate, the final reduce keys on doc.
# ---------------------------------------------------------------------------
_MLT_SEED = 42
_MLT_MQT = 10


@register(
    "q272_more_like_this_tfidf",
    oracle=f"""
    WITH t AS (SELECT doc_id, {TOKS_SQL} AS tk FROM documents),
    e AS (SELECT doc_id, len(tk) AS dl, unnest(tk) AS term FROM t),
    tfs AS (SELECT doc_id, dl, term, COUNT(*) AS tf FROM e GROUP BY doc_id, dl, term),
    vocab AS (SELECT term, COUNT(*) AS df FROM tfs GROUP BY term),
    stats AS (SELECT COUNT(*) AS n, SUM(len(tk)) AS sumdl FROM t),
    sel AS (
      SELECT term, df FROM (
        SELECT s.term, v.df,
               ROW_NUMBER() OVER (ORDER BY
                 ROUND(CAST(s.tf AS DOUBLE)
                       * ln((CAST(st.n AS DOUBLE) - CAST(v.df AS DOUBLE) + 0.5)
                            / (CAST(v.df AS DOUBLE) + 0.5) + 1.0), 6) DESC,
                 s.term ASC) AS rn
        FROM tfs s JOIN vocab v USING (term) CROSS JOIN stats st
        WHERE s.doc_id = {_MLT_SEED}) WHERE rn <= {_MLT_MQT}),
    m AS (
      SELECT t.doc_id, t.term,
             ln((CAST(st.n AS DOUBLE) - CAST(x.df AS DOUBLE) + 0.5)
                / (CAST(x.df AS DOUBLE) + 0.5) + 1.0)
             * (CAST(t.tf AS DOUBLE) * 2.2)
               / (CAST(t.tf AS DOUBLE)
                  + 1.2 * ((1.0 - 0.75) + 0.75 * (CAST(t.dl AS DOUBLE)
                    / (CAST(st.sumdl AS DOUBLE) / CAST(st.n AS DOUBLE))))) AS contrib
      FROM tfs t JOIN sel x USING (term) CROSS JOIN stats st
      WHERE t.doc_id != {_MLT_SEED}),
    folded AS (
      SELECT doc_id,
             list_reduce(list_prepend(0.0, list(contrib ORDER BY term, contrib)),
                         (x, y) -> x + y) AS s
      FROM m GROUP BY doc_id)
    SELECT doc_id, ROUND(s, 4) AS score FROM folded
    ORDER BY score DESC, doc_id ASC LIMIT 10
    """,
)
def q272_more_like_this_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", tokens("text").alias("tk"))
    tfs = (
        t.select("doc_id", F.size("tk").alias("dl"), F.explode("tk").alias("term"))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=True)
    )
    vocab = tfs.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = t.agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.size("tk")).alias("sumdl")
    )
    n = F.col("n").cast("double")
    dfc = F.col("df").cast("double")
    idf = F.log((n - dfc + F.lit(0.5)) / (dfc + F.lit(0.5)) + F.lit(1.0))
    seed_terms = tfs.filter(F.col("doc_id") == _MLT_SEED).select("term", "tf")
    ranked = (
        vocab.join(F.broadcast(seed_terms), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn("tfidf", F.round(F.col("tf").cast("double") * idf, 6))
    )
    w = Window.partitionBy().orderBy(F.desc("tfidf"), F.asc("term"))
    sel = (
        ranked.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _MLT_MQT)
        .select("term", "df")
    )
    tf = F.col("tf").cast("double")
    avgdl = F.col("sumdl").cast("double") / n
    denom = tf + F.lit(1.2) * (
        (F.lit(1.0) - F.lit(0.75)) + F.lit(0.75) * (F.col("dl").cast("double") / avgdl)
    )
    contrib = (idf * (tf * F.lit(2.2)) / denom).alias("contrib")
    per_term = (
        tfs.filter(F.col("doc_id") != _MLT_SEED)
        .join(F.broadcast(sel), "term")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", "term", contrib)
    )
    folded = (
        per_term.groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("term", "contrib"))).alias("__cs"))
        .select(
            "doc_id",
            F.round(
                F.aggregate("__cs", F.lit(0.0), lambda a, s: a + s["contrib"]), 4
            ).alias("score"),
        )
    )
    return folded.orderBy(F.desc("score"), F.asc("doc_id")).limit(10)


# ---------------------------------------------------------------------------
# q277 — ES `rare_terms` aggregation: the long-tail complement of
# `terms` — surface terms whose document frequency is <= max_doc_count
# (here 2), over a shingle(2)-analyzed field (bigrams; the unigram
# vocabulary of this corpus is dense — min df 25 — so the rare tail
# lives at the shingle level, exactly where ES users point rare_terms).
# ES computes this with a CuckooFilter sweep to avoid the memory blow-up
# of a full terms agg ordered ascending; the shuffle-native analog IS
# the full distinct-(doc,gram) -> df aggregate (one shuffle, partial-agg
# combined), with the rare slice filtered after. Deterministic
# presentation: df ASC, term ASC, capped at 100 rows (the cap is
# presentation only — the aggregate itself is complete).
#
# Shape (100 TB): scan-local shingling + distinct -> one (gram) shuffle
# -> filter df <= k -> TakeOrdered. No driver-side state; the rare
# slice is a tiny fraction of the vocabulary by definition.
# ---------------------------------------------------------------------------
_RARE_MAX_DF = 2


@register(
    "q277_rare_terms",
    oracle=f"""
    WITH t AS (SELECT doc_id, {TOKS_SQL} AS tk FROM documents),
    g AS (SELECT DISTINCT doc_id, tk[u.i] || ' ' || tk[u.i + 1] AS term
          FROM t, UNNEST(range(1, len(tk))) AS u(i)),
    df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS doc_count
           FROM g GROUP BY term)
    SELECT term, doc_count FROM df
    WHERE doc_count <= {_RARE_MAX_DF}
    ORDER BY doc_count ASC, term ASC LIMIT 100
    """,
)
def q277_rare_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("tk")
    )
    grams = t.select(
        "doc_id",
        F.explode(
            F.expr(
                "array_distinct(transform(slice(tk, 1, greatest(size(tk) - 1, 0)),"
                " (x, i) -> concat(x, ' ', tk[i + 1])))"
            )
        ).alias("term"),
    )
    return (
        grams.groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("doc_count"))
        .filter(F.col("doc_count") <= _RARE_MAX_DF)
        .orderBy(F.asc("doc_count"), F.asc("term"))
        .limit(100)
    )


# ---------------------------------------------------------------------------
# q278 — ES `span_first` query: match documents where a term occurs
# within the first `end` token positions (Lucene SpanFirstQuery — the
# last span-query primitive not already covered: span_near == q250's
# sloppy phrase). Output per matching doc: the earliest qualifying
# position and how many occurrences fall inside the window.
#
# Shape (100 TB): positional explode is scan-local (posexplode carries
# the ordinal — no window function, no shuffle before the per-doc
# aggregate); one (doc_id) shuffle for the min/count agg. Filter on
# position happens BEFORE the shuffle, so only in-window hits move.
# ---------------------------------------------------------------------------
_SPAN_TERM = "join"
_SPAN_END = 10


@register(
    "q278_span_first",
    oracle=f"""
    WITH t AS (SELECT doc_id, {TOKS_SQL} AS tk FROM documents),
    p AS (SELECT doc_id, u.i AS pos
          FROM t, UNNEST(range(1, len(tk) + 1)) AS u(i)
          WHERE tk[u.i] = '{_SPAN_TERM}' AND u.i <= {_SPAN_END})
    SELECT doc_id,
           CAST(MIN(pos) AS BIGINT) AS first_pos,
           CAST(COUNT(*) AS BIGINT) AS n_in_window
    FROM p GROUP BY doc_id ORDER BY doc_id
    """,
)
def q278_span_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("tk")
    )
    hits = t.select(
        "doc_id", F.posexplode("tk").alias("pos0", "tok")
    ).filter(
        (F.col("tok") == _SPAN_TERM) & (F.col("pos0") < _SPAN_END)
    )
    return (
        hits.groupBy("doc_id")
        .agg(
            (F.min("pos0") + 1).cast("bigint").alias("first_pos"),
            F.count(F.lit(1)).cast("bigint").alias("n_in_window"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# q282 — ES `terms_set` query: like `terms`, but the number of terms
# that must match is read from a FIELD of each document
# (minimum_should_match_field) — the per-doc dynamic threshold that a
# static bool/minimum_should_match (q23) can't express. Threshold field
# modeled as (n_chars % 3) + 1 (1..3 required matches); query terms are
# a fixed 4-term set. Output: matching docs with their overlap count
# and threshold.
#
# Shape (100 TB): scan-local — the overlap count is an array_intersect
# against a literal array and the threshold comparison is per-row; no
# shuffle at all before the output sort. The distinct-token overlap
# uses the same set semantics ES applies to terms_set.
# ---------------------------------------------------------------------------
_TERMS_SET = ("join", "scan", "window", "batch")


@register(
    "q282_terms_set",
    oracle=f"""
    WITH d AS (SELECT doc_id, n_chars, list_distinct({TOKS_SQL}) AS ts
               FROM documents),
    m AS (SELECT doc_id,
                 CAST(len(list_intersect(ts,
                     {list(_TERMS_SET)!r})) AS BIGINT) AS n_matched,
                 CAST(n_chars % 3 + 1 AS BIGINT) AS required
          FROM d)
    SELECT doc_id, n_matched, required FROM m
    WHERE n_matched >= required
    ORDER BY doc_id
    """,
)
def q282_terms_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    qterms = F.array(*[F.lit(t) for t in _TERMS_SET])
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.array_intersect(F.array_distinct(tokens("text")), qterms))
        .cast("bigint")
        .alias("n_matched"),
        (F.col("n_chars") % 3 + 1).cast("bigint").alias("required"),
    )
    return d.filter(F.col("n_matched") >= F.col("required")).orderBy("doc_id")


# ---------------------------------------------------------------------------
# q283 — ES `wildcard` term query: match documents where ANY token
# matches the wildcard pattern `sc*n` (compiled to the anchored regex
# ^sc.*n$ — `*` is ES's multi-char wildcard; tokens are [a-z0-9]+ so
# Java-regex vs RE2 semantics coincide). Output per matching doc: the
# sorted distinct matching terms (joined) and their count — what ES
# surfaces through highlight on a wildcard query.
#
# Shape (100 TB): scan-local — a higher-order `filter` over the token
# array, zero shuffles before the output sort. On an indexed engine a
# wildcard with a leading literal prefix walks the term dictionary;
# the scan analog is exactly this predicate pushed to the data, and the
# q68-style postings table turns it into the dictionary walk when the
# corpus is indexed.
# ---------------------------------------------------------------------------
_WILDCARD_RE = "^sc.*n$"


@register(
    "q283_wildcard_query",
    oracle=f"""
    WITH d AS (SELECT doc_id, list_sort(list_filter(list_distinct({TOKS_SQL}),
                 x -> regexp_matches(x, '{_WILDCARD_RE}'))) AS hits
               FROM documents)
    SELECT doc_id,
           CAST(len(hits) AS BIGINT) AS n_terms,
           array_to_string(hits, ',') AS matched_terms
    FROM d WHERE len(hits) > 0
    ORDER BY doc_id
    """,
)
def q283_wildcard_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    hits = F.array_sort(
        F.filter(
            F.array_distinct(tokens("text")),
            lambda x: x.rlike(_WILDCARD_RE),
        )
    )
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(hits).cast("bigint").alias("n_terms"),
        F.concat_ws(",", hits).alias("matched_terms"),
    )
    return d.filter(F.col("n_terms") > 0).orderBy("doc_id")


# ---------------------------------------------------------------------------
# q285 — ES `top_metrics` aggregation: per bucket, the metric values
# taken FROM the document with the extremal sort field (not the
# extremal metric — the distinction from `max`). Buckets = lang; sort =
# n_chars DESC (ties: doc_id ASC, pinned so the answer is
# deterministic); metrics = the winning doc's id, length, and source.
#
# Shape (100 TB): one per-bucket window top-1 — compiles to Spark's
# WindowGroupLimit (partial top-1 per partition BEFORE the shuffle), so
# only one candidate row per (bucket, partition) moves. The q14/q257
# top-k idiom at k=1.
# ---------------------------------------------------------------------------
@register(
    "q285_top_metrics",
    oracle="""
    SELECT lang, doc_id, n_chars, source FROM (
      SELECT lang, doc_id, n_chars, source,
             ROW_NUMBER() OVER (PARTITION BY lang
               ORDER BY n_chars DESC, doc_id ASC) AS rn
      FROM documents)
    WHERE rn = 1 ORDER BY lang
    """,
)
def q285_top_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("lang").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        load_table(spark, sf_dir, "documents")
        .select("lang", "doc_id", "n_chars", "source")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# q297 — ES `regexp` term query: documents whose token set contains a
# match of the regex s[a-z]*[knt] (ES regexp queries are implicitly
# anchored — the TERM must match in full, hence ^...$ on both engines;
# tokens are [a-z0-9]+ so Java-regex and RE2 class semantics coincide).
# Surfaces the q283 wildcard shape for the full-regex DSL entry point.
#
# Shape (100 TB): scan-local higher-order filter, no shuffle before the
# output sort; with the q68 postings index this becomes a term-
# dictionary walk exactly like ES's automaton intersection.
# ---------------------------------------------------------------------------
_REGEXP_Q = "^s[a-z]*[knt]$"


@register(
    "q297_regexp_query",
    oracle=f"""
    WITH d AS (SELECT doc_id, list_sort(list_filter(list_distinct({TOKS_SQL}),
                 x -> regexp_matches(x, '{_REGEXP_Q}'))) AS hits
               FROM documents)
    SELECT doc_id,
           CAST(len(hits) AS BIGINT) AS n_terms,
           array_to_string(hits, ',') AS matched_terms
    FROM d WHERE len(hits) > 0
    ORDER BY doc_id
    """,
)
def q297_regexp_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    hits = F.array_sort(
        F.filter(F.array_distinct(tokens("text")), lambda x: x.rlike(_REGEXP_Q))
    )
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(hits).cast("bigint").alias("n_terms"),
        F.concat_ws(",", hits).alias("matched_terms"),
    )
    return d.filter(F.col("n_terms") > 0).orderBy("doc_id")


# ---------------------------------------------------------------------------
# q298 — ES `match_bool_prefix` query: "merge st" analyzes to the full
# term `merge` (must match as a term) plus the LAST token treated as a
# prefix `st*` (type-ahead semantics). Output: matching docs with the
# sorted distinct prefix-completed terms.
#
# Shape (100 TB): scan-local predicates (array_contains + a
# higher-order startswith filter); the indexed variant walks the q68
# term dictionary for the prefix expansion like ES does.
# ---------------------------------------------------------------------------
_MBP_FULL = "merge"
_MBP_PREFIX = "st"


@register(
    "q298_match_bool_prefix",
    oracle=f"""
    WITH d AS (
      SELECT doc_id,
             list_distinct({TOKS_SQL}) AS ts
      FROM documents),
    m AS (
      SELECT doc_id,
             list_sort(list_filter(ts, x -> x LIKE '{_MBP_PREFIX}%')) AS pref_hits
      FROM d WHERE list_contains(ts, '{_MBP_FULL}'))
    SELECT doc_id,
           CAST(len(pref_hits) AS BIGINT) AS n_prefix_terms,
           array_to_string(pref_hits, ',') AS prefix_terms
    FROM m WHERE len(pref_hits) > 0
    ORDER BY doc_id
    """,
)
def q298_match_bool_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ts = F.array_distinct(tokens("text"))
    pref = F.array_sort(F.filter(ts, lambda x: x.startswith(_MBP_PREFIX)))
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        ts.alias("ts"),
        F.size(pref).cast("bigint").alias("n_prefix_terms"),
        F.concat_ws(",", pref).alias("prefix_terms"),
    )
    return (
        d.filter(F.array_contains("ts", _MBP_FULL) & (F.col("n_prefix_terms") > 0))
        .drop("ts")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# q311 — ES `terms` lookup query: the term list is FETCHED FROM ANOTHER
# DOCUMENT (index/id/path) rather than inlined — here, the distinct
# token set of doc_id 42. Docs (other than the source) matching ANY
# looked-up term, with their overlap counts.
#
# Shape (100 TB): the lookup doc reduces to a 1-row array broadcast
# (exactly ES's coordinating-node term fetch); the match is then a
# scan-local array_intersect — no shuffle before the output sort.
# ---------------------------------------------------------------------------
_LOOKUP_DOC = 42


@register(
    "q311_terms_lookup",
    oracle=f"""
    WITH lu AS (
      SELECT list_distinct({TOKS_SQL}) AS terms
      FROM documents WHERE doc_id = {_LOOKUP_DOC}),
    d AS (
      SELECT doc_id,
             CAST(len(list_intersect(list_distinct({TOKS_SQL}),
               lu.terms)) AS BIGINT) AS n_overlap
      FROM documents, lu WHERE doc_id <> {_LOOKUP_DOC})
    SELECT doc_id, n_overlap FROM d WHERE n_overlap > 0 ORDER BY doc_id
    """,
)
def q311_terms_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    lu = docs.filter(F.col("doc_id") == _LOOKUP_DOC).select(
        distinct_tokens_sorted("text").alias("terms")
    )
    d = (
        docs.filter(F.col("doc_id") != _LOOKUP_DOC)
        .crossJoin(F.broadcast(lu))
        .select(
            "doc_id",
            F.size(F.array_intersect(distinct_tokens_sorted("text"), F.col("terms")))
            .cast("bigint")
            .alias("n_overlap"),
        )
    )
    return d.filter(F.col("n_overlap") > 0).orderBy("doc_id")


# ---------------------------------------------------------------------------
# q332 — ES `simple_query_string` with the fixed grammar query
# `+fast -slow "hash join"`: documents must contain "fast", must NOT
# contain "slow", and must contain the exact adjacent phrase
# "hash join". Score: tf(fast) + phrase occurrence count (the naive-tf
# discipline of q314/q324). The grammar parse happens at plan-build
# time (the query string is a constant); execution is one scan-local
# predicate + TakeOrdered.
#
# Determinism: integer tf and adjacency counts; adjacency is the
# (x, i) single-pass idiom on the materialized token array (phrase
# hit at i when toks[i]='hash' and toks[i+1]='join').
# ---------------------------------------------------------------------------
_SQS_PLUS = "fast"
_SQS_MINUS = "slow"
_SQS_PHRASE = ("hash", "join")


@register(
    "q332_simple_query_string",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
    s AS (
      SELECT doc_id,
             CAST(len(list_filter(toks, x -> x = '{_SQS_PLUS}')) AS BIGINT) AS plus_tf,
             len(list_filter(toks, x -> x = '{_SQS_MINUS}')) > 0 AS has_minus,
             CAST(len(list_filter(list_transform(toks, (x, i) ->
               CASE WHEN x = '{_SQS_PHRASE[0]}'
                         AND i < len(toks)
                         AND toks[i + 1] = '{_SQS_PHRASE[1]}'
                    THEN 1 END), h -> h IS NOT NULL)) AS BIGINT) AS phrase_tf
      FROM t)
    SELECT doc_id, plus_tf, phrase_tf,
           CAST(plus_tf + phrase_tf AS BIGINT) AS score
    FROM s WHERE plus_tf > 0 AND NOT has_minus AND phrase_tf > 0
    ORDER BY score DESC, doc_id LIMIT 20
    """,
)
def q332_simple_query_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.plan import with_once

    # with_once barrier (functions/plan.py, the q318 lesson): pin the
    # tokenization; the three clause expressions and the combined
    # filter would otherwise each re-tokenize inside the Filter.
    t = with_once(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        "toks",
        tokens("text"),
    )
    # NB: Spark's transform index i is 0-based (element i+1 in SQL
    # element_at terms), so the "next token" probe is element_at(i+2);
    # DuckDB's 1-based lambda index probes toks[i+1] — same neighbor.
    phrase_tf = F.expr(
        f"size(filter(transform(toks, (x, i) ->"
        f" IF(x = '{_SQS_PHRASE[0]}' AND i + 1 < size(toks)"
        f"    AND element_at(toks, i + 2) = '{_SQS_PHRASE[1]}', 1, NULL)),"
        f" h -> h IS NOT NULL))"
    ).cast("bigint")
    s = t.select(
        "doc_id",
        F.size(F.filter("toks", lambda x: x == F.lit(_SQS_PLUS)))
        .cast("bigint")
        .alias("plus_tf"),
        (F.size(F.filter("toks", lambda x: x == F.lit(_SQS_MINUS))) > 0).alias(
            "has_minus"
        ),
        phrase_tf.alias("phrase_tf"),
    )
    return (
        s.filter((F.col("plus_tf") > 0) & (~F.col("has_minus")) & (F.col("phrase_tf") > 0))
        .select(
            "doc_id", "plus_tf", "phrase_tf",
            (F.col("plus_tf") + F.col("phrase_tf")).cast("bigint").alias("score"),
        )
        .orderBy(F.desc("score"), "doc_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q341 — ES `significant_text` aggregation: tokens over-represented in
# a FOREGROUND document set (lang = 'en') relative to the whole corpus,
# scored with ES's JLH: (fgp - bgp) * (fgp / bgp), document-frequency
# based (each doc counts a token once), requiring fgp > bgp. Completes
# q254 (significant_terms over keyword fields) with the free-text
# surface.
#
# Determinism: fg/bg document frequencies are exact integers; the two
# totals are exact; the score is one shared double expression, rounded
# to 6 with (df, token) tiebreaks.
#
# Shape (100 TB): one distinct-token explode + map-combinable shuffle
# keyed by token; the fg/bg doc totals come from a second 1-column
# scan that aggregates to ONE broadcast row (never a per-token join).
# ---------------------------------------------------------------------------
_ST_FG_LANG = "en"


@register(
    "q341_significant_text",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang = '{_ST_FG_LANG}' AS fg, UNNEST(list_distinct({TOKS_SQL})) AS token
      FROM documents),
    df AS (
      SELECT token,
             CAST(SUM(CASE WHEN fg THEN 1 ELSE 0 END) AS BIGINT) AS fg_df,
             CAST(COUNT(*) AS BIGINT) AS bg_df
      FROM tok GROUP BY token),
    tot AS (
      SELECT CAST(SUM(CASE WHEN lang = '{_ST_FG_LANG}' THEN 1 ELSE 0 END) AS BIGINT) AS fg_total,
             CAST(COUNT(*) AS BIGINT) AS bg_total
      FROM documents)
    SELECT token, fg_df, bg_df,
           ROUND((CAST(fg_df AS DOUBLE) / fg_total - CAST(bg_df AS DOUBLE) / bg_total)
                 * (CAST(fg_df AS DOUBLE) / fg_total)
                 / (CAST(bg_df AS DOUBLE) / bg_total), 6) AS jlh
    FROM df CROSS JOIN tot
    WHERE CAST(fg_df AS DOUBLE) / fg_total > CAST(bg_df AS DOUBLE) / bg_total
    ORDER BY jlh DESC, bg_df DESC, token LIMIT 20
    """,
)
def q341_significant_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        (F.col("lang") == _ST_FG_LANG).alias("fg"),
        F.explode(F.array_distinct(tokens("text"))).alias("token"),
    )
    df = tok.groupBy("token").agg(
        F.sum(F.when(F.col("fg"), 1).otherwise(0)).cast("bigint").alias("fg_df"),
        F.count(F.lit(1)).cast("bigint").alias("bg_df"),
    )
    tot = F.broadcast(
        docs.agg(
            F.sum(F.when(F.col("lang") == _ST_FG_LANG, 1).otherwise(0))
            .cast("bigint")
            .alias("fg_total"),
            F.count(F.lit(1)).cast("bigint").alias("bg_total"),
        )
    )
    fgp = F.col("fg_df").cast("double") / F.col("fg_total")
    bgp = F.col("bg_df").cast("double") / F.col("bg_total")
    return (
        df.crossJoin(tot)
        .filter(fgp > bgp)
        .select(
            "token", "fg_df", "bg_df",
            F.round((fgp - bgp) * fgp / bgp, 6).alias("jlh"),
        )
        .orderBy(F.desc("jlh"), F.desc("bg_df"), "token")
        .limit(20)
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
# q396 — ES `phrase` suggester: correct a whole query phrase, not a
# single term. Mechanics mirror ES's direct-generator + LM re-rank:
# every position proposes vocabulary candidates within edit distance 2
# (length-band prefiltered, the q244 pattern); with max_errors=1 a
# candidate phrase replaces EXACTLY one position; phrases are re-ranked
# by the corpus bigram count sum — the deterministic integer surrogate
# for ES's smoothed-LM likelihood (same argsort on this corpus, no
# transcendentals, cross-engine exact) — with total unigram frequency
# then lexicographic order as tiebreaks.
#
# Shape (100 TB): two map-combinable corpus reductions (bigram counts,
# unigram counts — both vocabulary-bounded outputs), then all candidate
# work happens on broadcast-size frames: positions x vocab candidate
# join, two broadcast bigram lookups, three broadcast unigram lookups.
# The corpus is scanned twice and never joined row-to-row. The candidate
# join is a deliberate BroadcastNestedLoopJoin (levenshtein is non-equi)
# with a 3-row broadcast side against the vocabulary frame — the q244
# documented-BNLJ shape, pinned in PLAN_BUDGET.json.
# ---------------------------------------------------------------------------
_PS_PHRASE = ["fast", "kay", "order"]  # "kay" is the typo (-> "key")
_PS_MAX_DIST = 2
_PS_TOP = 5


def _ps_oracle() -> str:
    pos_rows = ", ".join(f"({i}, '{t}')" for i, t in enumerate(_PS_PHRASE))
    return f"""
    WITH t AS MATERIALIZED (SELECT {TOKS_SQL} AS tk FROM documents),
    uni AS MATERIALIZED (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT unnest(tk) AS tok FROM t) GROUP BY 1),
    bi AS MATERIALIZED (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c FROM (
        SELECT tk[CAST(i AS INTEGER)] AS w1, tk[CAST(i AS INTEGER) + 1] AS w2
        FROM t, UNNEST(generate_series(1, len(tk) - 1)) AS g(i)) GROUP BY 1, 2),
    pos AS (SELECT * FROM (VALUES {pos_rows}) AS v(p, orig)),
    cand AS MATERIALIZED (
      SELECT pos.p, pos.orig, uni.tok AS repl
      FROM pos JOIN uni
        ON abs(len(uni.tok) - len(pos.orig)) <= {_PS_MAX_DIST}
       AND uni.tok <> pos.orig
       AND levenshtein(uni.tok, pos.orig) <= {_PS_MAX_DIST}),
    ph AS MATERIALIZED (
      SELECT p AS changed_pos, repl,
             CASE WHEN p = 0 THEN repl ELSE '{_PS_PHRASE[0]}' END AS c1,
             CASE WHEN p = 1 THEN repl ELSE '{_PS_PHRASE[1]}' END AS c2,
             CASE WHEN p = 2 THEN repl ELSE '{_PS_PHRASE[2]}' END AS c3
      FROM cand),
    sc AS (
      SELECT ph.changed_pos, ph.repl, ph.c1 || ' ' || ph.c2 || ' ' || ph.c3 AS suggestion,
             CAST(COALESCE(b12.c, 0) + COALESCE(b23.c, 0) AS BIGINT) AS score,
             CAST(COALESCE(u1.c, 0) + COALESCE(u2.c, 0) + COALESCE(u3.c, 0)
                  AS BIGINT) AS freq_sum
      FROM ph
      LEFT JOIN bi b12 ON b12.w1 = ph.c1 AND b12.w2 = ph.c2
      LEFT JOIN bi b23 ON b23.w1 = ph.c2 AND b23.w2 = ph.c3
      LEFT JOIN uni u1 ON u1.tok = ph.c1
      LEFT JOIN uni u2 ON u2.tok = ph.c2
      LEFT JOIN uni u3 ON u3.tok = ph.c3)
    SELECT suggestion, CAST(changed_pos AS BIGINT) AS changed_pos, repl,
           score, freq_sum,
           CAST(ROW_NUMBER() OVER (ORDER BY score DESC, freq_sum DESC,
                                   suggestion) AS BIGINT) AS rank
    FROM sc
    ORDER BY rank LIMIT {_PS_TOP}
    """


@register("q396_phrase_suggest", oracle=_ps_oracle())
def q396_phrase_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_table(spark, sf_dir, "documents").select(tokens("text").alias("tk"))
    # r12 surgery: BOTH corpus reductions in ONE pass + ONE shuffle —
    # unigrams ride the same explode/aggregate as bigrams with w2=NULL
    # (a NULL second word can't collide with any real bigram), where r11
    # ran two separate corpus scans + two shuffles behind two EAGER
    # checkpoints (two serialized jobs before the main query even
    # started). The combined aggregate is vocabulary-bounded; the lazy
    # pin materializes it inside the first broadcast build and every
    # later consumer reads it back (sequential-consumer rule).
    grams = F.expr(
        "concat("
        " transform(tk, x -> struct(x AS w1, CAST(NULL AS STRING) AS w2)),"
        " if(size(tk) >= 2,"
        "    transform(sequence(1, size(tk) - 1),"
        "      i -> struct(tk[i - 1] AS w1, tk[i] AS w2)),"
        "    array()))"
    )
    ab = (
        t.select(F.explode(grams).alias("g"))
        .groupBy(F.col("g.w1").alias("w1"), F.col("g.w2").alias("w2"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .localCheckpoint(eager=False)
    )
    uni = ab.filter(F.col("w2").isNull()).select(F.col("w1").alias("tok"), "c")
    bi = ab.filter(F.col("w2").isNotNull())
    # the scoring lookups fold into TWO one-row broadcast maps (bigram
    # key = "w1 w2") instead of five broadcast joins: element_at on a
    # unique-keyed map is value-identical to the left equi-joins, and
    # the per-request plan drops 3 broadcast exchanges.
    unimap = uni.agg(
        F.map_from_entries(F.collect_list(F.struct("tok", "c"))).alias("um")
    )
    bimap = bi.agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.concat_ws(" ", "w1", "w2").alias("k"), F.col("c")))
        ).alias("bm")
    )
    pos = spark.range(1).select(
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("p"), F.lit(tkn).alias("orig"))
                    for i, tkn in enumerate(_PS_PHRASE)
                ]
            )
        ).alias("v")
    ).select("v.p", "v.orig")
    cand = uni.join(
        F.broadcast(pos),
        (F.abs(F.length("tok") - F.length("orig")) <= _PS_MAX_DIST)
        & (F.col("tok") != F.col("orig"))
        & (F.levenshtein("tok", "orig") <= _PS_MAX_DIST),
    ).select("p", "orig", F.col("tok").alias("repl"))
    ph = cand.select(
        F.col("p").alias("changed_pos"),
        "repl",
        F.when(F.col("p") == 0, F.col("repl")).otherwise(F.lit(_PS_PHRASE[0])).alias("c1"),
        F.when(F.col("p") == 1, F.col("repl")).otherwise(F.lit(_PS_PHRASE[1])).alias("c2"),
        F.when(F.col("p") == 2, F.col("repl")).otherwise(F.lit(_PS_PHRASE[2])).alias("c3"),
    )
    lk_b = lambda a, b: F.coalesce(  # noqa: E731
        F.element_at(F.col("bm"), F.concat_ws(" ", a, b)), F.lit(0)
    )
    lk_u = lambda cc: F.coalesce(F.element_at(F.col("um"), F.col(cc)), F.lit(0))  # noqa: E731
    sc = (
        ph.crossJoin(F.broadcast(unimap))
        .crossJoin(F.broadcast(bimap))
        .select(
            F.concat_ws(" ", "c1", "c2", "c3").alias("suggestion"),
            F.col("changed_pos").cast("bigint").alias("changed_pos"),
            "repl",
            (lk_b(F.col("c1"), F.col("c2")) + lk_b(F.col("c2"), F.col("c3")))
            .cast("bigint")
            .alias("score"),
            (lk_u("c1") + lk_u("c2") + lk_u("c3")).cast("bigint").alias("freq_sum"),
        )
    )
    w = Window.orderBy(F.col("score").desc(), F.col("freq_sum").desc(), "suggestion")
    return (
        sc.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= _PS_TOP)
        .orderBy("rank")
    )


# ---------------------------------------------------------------------------
# q398 — ES runtime fields (`runtime_mappings`): a field computed at
# query time from stored fields — here chars-per-token x100 as an
# integer DIV (exact in both engines) — drives a range query and a
# per-source stats aggregation, without ever being materialized in the
# source table. The ES semantics under test: the runtime field is
# visible to query, filter, and aggregation alike within one request.
#
# Shape (100 TB): scan-local projection + filter inside codegen, ONE
# map-combinable groupBy(source). The runtime expression rides the same
# scan as the stored fields — zero extra passes, exactly like ES
# evaluating the script per matched document.
# ---------------------------------------------------------------------------
_RT_LO, _RT_HI = 530, 565  # cpt_x100 range filter


@register(
    "q398_runtime_fields",
    oracle=f"""
    WITH t AS (
      SELECT source,
             (100 * CAST(n_chars AS BIGINT)) // CAST(len({TOKS_SQL}) AS BIGINT)
               AS cpt_x100
      FROM documents),
    h AS (SELECT * FROM t WHERE cpt_x100 BETWEEN {_RT_LO} AND {_RT_HI})
    SELECT source, CAST(COUNT(*) AS BIGINT) AS hits,
           CAST(MIN(cpt_x100) AS BIGINT) AS min_cpt,
           CAST(MAX(cpt_x100) AS BIGINT) AS max_cpt,
           ROUND(CAST(SUM(cpt_x100) AS DOUBLE) / COUNT(*), 4) AS avg_cpt
    FROM h GROUP BY source ORDER BY source
    """,
)
def q398_runtime_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = (
        load_table(spark, sf_dir, "documents")
        .select(
            "source",
            F.col("n_chars").cast("bigint").alias("nch"),
            F.size(tokens("text")).cast("bigint").alias("n"),
        )
        # true integer DIV (floor on positives), matching DuckDB's `//`;
        # a double divide + cast would truncate on a rounding boundary.
        .select("source", F.expr("(100 * nch) div n").alias("cpt_x100"))
    )
    h = t.filter(F.col("cpt_x100").between(_RT_LO, _RT_HI))
    return (
        h.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("hits"),
            F.min("cpt_x100").cast("bigint").alias("min_cpt"),
            F.max("cpt_x100").cast("bigint").alias("max_cpt"),
            F.round(
                F.sum("cpt_x100").cast("double") / F.count(F.lit(1)), 4
            ).alias("avg_cpt"),
        )
        .orderBy("source")
    )
