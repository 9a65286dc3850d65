"""Round-9 catalog extensions, batch 3 — the last ES DSL gap plus two
pipeline operators:

- q396 ES ``phrase`` suggester (whole-phrase spelling correction:
  per-position edit-distance candidates re-ranked by a corpus bigram
  LM — the suggester family's remaining member after q243 completion /
  q244 term),
- q397 Gopher quality rules (the canonical 5-rule document quality
  filter from the Gopher paper's data pipeline, exact integer
  thresholds, per-source failure breakdown),
- q398 ES runtime fields (``runtime_mappings``: a query-time computed
  field driving a range filter and a stats aggregation, never
  materialized in the source).

Reference context: the suggester endpoints and runtime mappings ship in
the ES 8.12 image the reference stack deploys (docker-compose.yml:32)
though `src/api.py` never calls them; q397 extends the LLM
training-data catalog (quality filtering beside q267's repetition
rules).

Determinism discipline (see catalog.py): q396 scores are integer bigram
counts (rank by exact integers, lexicographic tiebreak); q397 rules are
integer cross-multiplications (no per-doc division anywhere); q398's
runtime field is an integer DIV. The only doubles are final
single-division rates, correctly rounded identically in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import TOKS_SQL, tokens
from ..sources.readers import load_table
from .catalog import register

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
# q397 — Gopher quality rules: the 5-rule document filter from the
# Gopher data pipeline (word-count band, mean-word-length band, minimum
# stop-word fraction, minimum type-token ratio, maximum single-token
# dominance), with thresholds calibrated so each rule discriminates on
# this corpus (non-degeneracy discipline, tests/test_round9b2).
# Every rule is an exact integer cross-multiplication — no per-document
# division exists anywhere, so both engines agree bit-for-bit. The
# complement of q267 (which covers Gopher's REPETITION rules).
#
# Shape (100 TB): scan-local per-doc token math inside codegen, then ONE
# map-combinable groupBy(source). The dominance term is O(distinct x n)
# per row — bounded by document length, no shuffle.
# ---------------------------------------------------------------------------
_GQ_WC_MIN, _GQ_WC_MAX = 15, 85  # word-count band
_GQ_MWL_LO, _GQ_MWL_HI = 42, 48  # mean token length in [4.2, 4.8] (x10)
_GQ_STOP_PCT = 3  # stop-word fraction >= 3%
_GQ_TTR_PCT = 35  # type-token ratio >= 35%
_GQ_DOM_PCT = 13  # top token <= 13% of tokens
_GQ_STOPWORDS = ("the", "a")


@register(
    "q397_gopher_quality_rules",
    oracle=f"""
    WITH t AS (
      SELECT source, {TOKS_SQL} AS tk FROM documents),
    m AS (
      SELECT source,
             CAST(len(tk) AS BIGINT) AS n,
             CAST(list_sum(list_transform(tk, x -> len(x))) AS BIGINT) AS sumlen,
             CAST(len(list_filter(tk, x -> x = '{_GQ_STOPWORDS[0]}'
                                        OR x = '{_GQ_STOPWORDS[1]}')) AS BIGINT)
               AS nstop,
             CAST(len(list_distinct(tk)) AS BIGINT) AS nd,
             CAST(list_max(list_transform(list_distinct(tk),
                    t2 -> len(list_filter(tk, x -> x = t2)))) AS BIGINT) AS topc
      FROM t),
    r AS (
      SELECT source,
             CASE WHEN n < {_GQ_WC_MIN} OR n > {_GQ_WC_MAX} THEN 1 ELSE 0 END AS f_wc,
             CASE WHEN 10 * sumlen < {_GQ_MWL_LO} * n
                    OR 10 * sumlen > {_GQ_MWL_HI} * n THEN 1 ELSE 0 END AS f_mwl,
             CASE WHEN 100 * nstop < {_GQ_STOP_PCT} * n THEN 1 ELSE 0 END AS f_stop,
             CASE WHEN 100 * nd < {_GQ_TTR_PCT} * n THEN 1 ELSE 0 END AS f_ttr,
             CASE WHEN 100 * topc > {_GQ_DOM_PCT} * n THEN 1 ELSE 0 END AS f_dom
      FROM m)
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(f_wc) AS BIGINT) AS fail_wordcount,
           CAST(SUM(f_mwl) AS BIGINT) AS fail_meanwordlen,
           CAST(SUM(f_stop) AS BIGINT) AS fail_stopword,
           CAST(SUM(f_ttr) AS BIGINT) AS fail_ttr,
           CAST(SUM(f_dom) AS BIGINT) AS fail_dominance,
           CAST(SUM(CASE WHEN f_wc + f_mwl + f_stop + f_ttr + f_dom = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
           ROUND(CAST(SUM(CASE WHEN f_wc + f_mwl + f_stop + f_ttr + f_dom = 0
                               THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 4)
             AS pass_rate
    FROM r GROUP BY source ORDER BY source
    """,
)
def q397_gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_table(spark, sf_dir, "documents").select(
        "source", tokens("text").alias("tk")
    )
    stop_pred = " OR ".join(f"x = '{s}'" for s in _GQ_STOPWORDS)
    m = t.select(
        "source",
        F.size("tk").cast("bigint").alias("n"),
        F.expr("aggregate(tk, 0L, (a, x) -> a + length(x))").alias("sumlen"),
        F.expr(f"size(filter(tk, x -> {stop_pred}))").cast("bigint").alias("nstop"),
        F.size(F.array_distinct("tk")).cast("bigint").alias("nd"),
        F.expr(
            "array_max(transform(array_distinct(tk), "
            "t2 -> size(filter(tk, x -> x = t2))))"
        )
        .cast("bigint")
        .alias("topc"),
    )
    f = lambda c: F.when(c, F.lit(1)).otherwise(F.lit(0))  # noqa: E731
    r = m.select(
        "source",
        f((F.col("n") < _GQ_WC_MIN) | (F.col("n") > _GQ_WC_MAX)).alias("f_wc"),
        f(
            (10 * F.col("sumlen") < _GQ_MWL_LO * F.col("n"))
            | (10 * F.col("sumlen") > _GQ_MWL_HI * F.col("n"))
        ).alias("f_mwl"),
        f(100 * F.col("nstop") < _GQ_STOP_PCT * F.col("n")).alias("f_stop"),
        f(100 * F.col("nd") < _GQ_TTR_PCT * F.col("n")).alias("f_ttr"),
        f(100 * F.col("topc") > _GQ_DOM_PCT * F.col("n")).alias("f_dom"),
    )
    all_pass = (
        F.col("f_wc") + F.col("f_mwl") + F.col("f_stop") + F.col("f_ttr") + F.col("f_dom")
        == 0
    )
    return (
        r.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("f_wc").cast("bigint").alias("fail_wordcount"),
            F.sum("f_mwl").cast("bigint").alias("fail_meanwordlen"),
            F.sum("f_stop").cast("bigint").alias("fail_stopword"),
            F.sum("f_ttr").cast("bigint").alias("fail_ttr"),
            F.sum("f_dom").cast("bigint").alias("fail_dominance"),
            F.sum(f(all_pass)).cast("bigint").alias("n_pass"),
        )
        .withColumn(
            "pass_rate",
            F.round(F.col("n_pass").cast("double") / F.col("n_docs"), 4),
        )
        .orderBy("source")
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


# ---------------------------------------------------------------------------
# q399 — document stitching (crawl-continuation detection): find docs
# whose LAST k tokens equal another doc's FIRST k tokens — the
# suffix/prefix adjacency that marks one document split across crawl
# records (pagination, chunked extraction). The standard corpus
# reconstruction primitive before packing: stitch candidates get merged
# or deduplicated so the training corpus doesn't contain split halves.
# Distinct from q186 containment (bag overlap) and q263 span excision
# (repeated interior grams): this keys on ORDERED boundary grams.
#
# Output is the per-document audit view (count of continuation
# candidates + the first candidate id), NOT the raw pair list — pairs
# grow with gram-collision mass while this stays O(matched docs),
# the scale-stable contract (the q33/q35 row-contract lesson applied
# at design time).
#
# Shape (100 TB): scan-local boundary-gram projection (slice +
# array_join inside codegen), ONE hash-shuffle equi-join on the gram
# string, one map-combinable groupBy. Docs shorter than 2k tokens are
# excluded at the scan so pre/suf never overlap.
# ---------------------------------------------------------------------------
_ST_K = 3


@register(
    "q399_doc_stitching",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {TOKS_SQL} AS tk FROM documents),
    e AS (
      SELECT doc_id,
             array_to_string(tk[1:{_ST_K}], ' ') AS pre,
             array_to_string(tk[len(tk)-{_ST_K}+1:len(tk)], ' ') AS suf
      FROM t WHERE len(tk) >= {2 * _ST_K})
    SELECT a.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_candidates,
           CAST(MIN(b.doc_id) AS BIGINT) AS first_candidate,
           any_value(a.suf) AS boundary_gram
    FROM e a JOIN e b ON a.suf = b.pre AND a.doc_id <> b.doc_id
    GROUP BY a.doc_id ORDER BY a.doc_id
    """,
)
def q399_doc_stitching(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("tk")
    )
    e = t.filter(F.size("tk") >= 2 * _ST_K).select(
        "doc_id",
        F.array_join(F.slice("tk", 1, _ST_K), " ").alias("pre"),
        F.array_join(F.slice("tk", -_ST_K, _ST_K), " ").alias("suf"),
    )
    a = e.select(F.col("doc_id"), F.col("suf"))
    b = e.select(F.col("doc_id").alias("b_id"), F.col("pre"))
    return (
        a.join(b, (a["suf"] == b["pre"]) & (a["doc_id"] != b["b_id"]))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
            F.min("b_id").cast("bigint").alias("first_candidate"),
            F.any_value("suf").alias("boundary_gram"),
        )
        .orderBy("doc_id")
    )
