"""Text-analysis query catalog over ``documents``: token statistics,
language ID (stopword heuristic), quality scoring, fingerprinting,
lexical diversity, perplexity, vocabulary coverage and tokenizer drift.

All column math (SURVEY §2.10 stance: no UDFs); every formula is specified
here and mirrored verbatim in the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import (
    MD5_SPLIT_BUCKET_SQL,
    NORM_SQL,
    SPLIT_SQL,
    STOP_SQL,
    STOPWORDS,
    TOKS_SQL,
    distinct_tokens_sorted,
    md5_hex_int_sql,
    md5_split,
    md5_split_bucket,
    normalize_text,
    tokens,
)
from ..sources.readers import load_table
from .catalog import register


# ---------------------------------------------------------------------------
# Token counting (whitespace + distinct + type/token ratio)
# ---------------------------------------------------------------------------
@register(
    "q40_token_stats",
    oracle=f"""
    WITH t AS (SELECT doc_id, {TOKS_SQL} AS tk FROM documents)
    SELECT doc_id, len(tk) AS n_tokens, len(list_distinct(tk)) AS n_distinct,
           ROUND(CAST(len(list_distinct(tk)) AS DOUBLE) / CAST(len(tk) AS DOUBLE), 4) AS ttr
    FROM t
    """,
)
def q40_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # tokens materialized once per row — inlining the tokenizer into each
    # stat would re-run the regexp split per expression (see dedup.py note).
    docs = load_table(spark, sf_dir, "documents").select("doc_id", tokens("text").alias("tk"))
    return docs.select(
        "doc_id",
        F.size("tk").cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct("tk")).cast("bigint").alias("n_distinct"),
        F.round(
            F.size(F.array_distinct("tk")).cast("double") / F.size("tk").cast("double"), 4
        ).alias("ttr"),
    )


# ---------------------------------------------------------------------------
# Language ID — n-gram/stopword heuristic. Spec: en iff the English
# stopword ratio exceeds 2% of tokens.
# ---------------------------------------------------------------------------
@register(
    "q41_lang_id",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, {TOKS_SQL} AS tk FROM documents),
    s AS (SELECT doc_id, lang,
                 CAST(len(list_filter(tk, x -> list_contains({STOP_SQL}, x))) AS DOUBLE)
                 / CAST(len(tk) AS DOUBLE) AS stop_ratio
          FROM t)
    SELECT doc_id, lang,
           CASE WHEN stop_ratio > 0.02 THEN 'en' ELSE 'other' END AS pred_lang,
           ROUND(stop_ratio, 4) AS stop_ratio
    FROM s
    """,
)
def q41_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", tokens("text").alias("tk")
    )
    nstop = F.size(F.filter(F.col("tk"), lambda t: t.isin(*STOPWORDS)))
    ratio = nstop.cast("double") / F.size("tk").cast("double")
    return docs.select(
        "doc_id",
        "lang",
        F.when(ratio > 0.02, F.lit("en")).otherwise(F.lit("other")).alias("pred_lang"),
        F.round(ratio, 4).alias("stop_ratio"),
    )


# ---------------------------------------------------------------------------
# Quality scoring — length component + stopword component, equal weights.
# score = round(0.5*least(n_tokens/100, 1) + 0.5*least(stop_ratio*10, 1), 4)
# ---------------------------------------------------------------------------
@register(
    "q42_quality_score",
    oracle=f"""
    WITH t AS (SELECT doc_id, n_chars, {TOKS_SQL} AS tk FROM documents),
    s AS (SELECT doc_id, n_chars, len(tk) AS n_tokens,
                 CAST(len(list_filter(tk, x -> list_contains({STOP_SQL}, x))) AS DOUBLE)
                 / CAST(len(tk) AS DOUBLE) AS stop_ratio
          FROM t)
    SELECT doc_id, n_tokens, n_chars,
           ROUND(0.5 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
                 + 0.5 * least(stop_ratio * 10.0, 1.0), 4) AS quality
    FROM s
    """,
)
def q42_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", tokens("text").alias("tk")
    )
    n_tokens = F.size("tk")
    nstop = F.size(F.filter(F.col("tk"), lambda t: t.isin(*STOPWORDS)))
    stop_ratio = nstop.cast("double") / n_tokens.cast("double")
    quality = F.round(
        F.lit(0.5) * F.least(n_tokens.cast("double") / F.lit(100.0), F.lit(1.0))
        + F.lit(0.5) * F.least(stop_ratio * F.lit(10.0), F.lit(1.0)),
        4,
    )
    return docs.select(
        "doc_id", n_tokens.cast("bigint").alias("n_tokens"), "n_chars", quality.alias("quality")
    )


# ---------------------------------------------------------------------------
# Document fingerprinting: (a) bag-of-words content fingerprint (md5 of the
# sorted distinct token list), (b) winnowing-style min-hash over character
# 5-grams of the normalized text (order-sensitive rolling fingerprint).
# ---------------------------------------------------------------------------
@register(
    "q43_fingerprint",
    oracle=f"""
    WITH t AS (SELECT doc_id, {NORM_SQL} AS norm, {TOKS_SQL} AS tk FROM documents)
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(tk)), ' ')) AS content_fp,
           list_sort(list_transform(range(1, greatest(len(norm)-4, 1)+1),
                                    i -> md5(substr(norm, CAST(i AS INT), 5))))[1] AS winnow_fp
    FROM t
    """,
)
def q43_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        normalize_text("text").alias("norm"),
        F.md5(F.concat_ws(" ", distinct_tokens_sorted("text"))).alias("content_fp"),
    )
    winnow = F.expr(
        "array_min(transform(sequence(1, greatest(length(norm)-4, 1)), i -> md5(substring(norm, i, 5))))"
    )
    return d.select("doc_id", "content_fp", winnow.alias("winnow_fp"))


# ---------------------------------------------------------------------------
# q70 — BPE-ish token counting: alongside whitespace tokens (q40), count
# subword-style pieces with a GPT-2-like regex (letter runs | digit runs |
# single non-alphanumeric) — the cheap proxy for budgeting LLM tokens.
# ---------------------------------------------------------------------------
@register(
    "q70_bpe_token_count",
    oracle=rf"""
    SELECT doc_id,
           len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_bpe,
           len({TOKS_SQL}) AS n_ws
    FROM documents
    """,
)
def q70_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.expr(r"regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)")).cast("bigint").alias("n_bpe"),
        F.size(tokens("text")).cast("bigint").alias("n_ws"),
    )


# ---------------------------------------------------------------------------
# q79 — deterministic stratified sampling: first-k per stratum ordered by
# a content hash. Reproducible across runs, engines, and cluster sizes —
# the property training-data eval holdouts need (RNG sampling is neither
# engine- nor partitioning-stable).
# ---------------------------------------------------------------------------
@register(
    "q79_stratified_sample",
    oracle="""
    SELECT lang, doc_id FROM (
      SELECT lang, doc_id,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents)
    WHERE rn <= 10
    """,
)
def q79_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(F.md5(F.col("doc_id").cast("string")), F.col("doc_id"))
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select("lang", "doc_id")
    )


# ---------------------------------------------------------------------------
# q80 — reproducible train/val/test split assignment by content hash
# (80/10/10 via the first two hex digits of md5(doc_id): 256 buckets).
# ---------------------------------------------------------------------------
@register(
    "q80_train_val_test_split",
    oracle=f"""
    WITH assigned AS (
      SELECT doc_id,
             {SPLIT_SQL} AS split
      FROM (SELECT doc_id,
                   {MD5_SPLIT_BUCKET_SQL} AS h
            FROM documents))
    SELECT split, COUNT(*) AS n, CAST(MIN(doc_id) AS BIGINT) AS min_id
    FROM assigned GROUP BY split
    """,
)
def q80_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    h = md5_split_bucket()
    split = md5_split(h)
    return (
        docs.select("doc_id", split.alias("split"))
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n"), F.min("doc_id").cast("bigint").alias("min_id"))
    )


# ---------------------------------------------------------------------------
# End-to-end corpus curation: language gate → quality gate → exact-dedup
# keep-first → hash split → per-split audit. The full training-data
# pipeline as ONE declarative plan — each stage is the already-tested
# operator (q41/q42/q31/q80 semantics), composed without materialization
# so Catalyst fuses the gates into the scan.
# ---------------------------------------------------------------------------
@register(
    "q86_curation_pipeline",
    oracle=f"""
    WITH t AS (SELECT doc_id, text, {TOKS_SQL} AS tk FROM documents),
    s AS (SELECT doc_id, text, len(tk) AS n_tokens,
                 CAST(len(list_filter(tk, x -> list_contains({STOP_SQL}, x))) AS DOUBLE)
                 / CAST(len(tk) AS DOUBLE) AS stop_ratio
          FROM t),
    g AS (SELECT *, ROUND(0.5 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
                          + 0.5 * least(stop_ratio * 10.0, 1.0), 4) AS quality FROM s),
    gated AS (SELECT * FROM g WHERE stop_ratio > 0.02 AND quality >= 0.5),
    surv AS (SELECT MIN(doc_id) AS doc_id FROM gated GROUP BY md5(text)),
    kept AS (SELECT gated.* FROM gated JOIN surv USING (doc_id)),
    assigned AS (
      SELECT doc_id, n_tokens,
             {SPLIT_SQL} AS split
      FROM (SELECT doc_id, n_tokens,
                   {MD5_SPLIT_BUCKET_SQL} AS h
            FROM kept))
    SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(MIN(doc_id) AS BIGINT) AS min_id
    FROM assigned GROUP BY split ORDER BY split
    """,
)
def q86_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", tokens("text").alias("tk")
    )
    # All three stats come from ONE fold over the token array: the tk
    # expression is referenced once, so projection collapsing can't
    # re-inline the tokenizer per stat (the measured 13-inlines pitfall).
    st = F.aggregate(
        F.col("tk"),
        F.struct(F.lit(0).cast("long").alias("n"), F.lit(0).cast("long").alias("s")),
        lambda acc, t: F.struct(
            (acc["n"] + 1).alias("n"),
            (acc["s"] + F.when(t.isin(*STOPWORDS), 1).otherwise(0)).alias("s"),
        ),
        lambda acc: F.struct(
            acc["n"].alias("n_tokens"),
            (acc["s"].cast("double") / acc["n"].cast("double")).alias("stop_ratio"),
            F.round(
                F.lit(0.5) * F.least(acc["n"].cast("double") / F.lit(100.0), F.lit(1.0))
                + F.lit(0.5)
                * F.least(
                    acc["s"].cast("double") / acc["n"].cast("double") * F.lit(10.0),
                    F.lit(1.0),
                ),
                4,
            ).alias("quality"),
        ),
    )
    gated = (
        docs.select("doc_id", "text", st.alias("st"))
        .filter((F.col("st.stop_ratio") > 0.02) & (F.col("st.quality") >= 0.5))
    )
    # keep-first dedup as a window over the content hash: one shuffle, no
    # duplicated scan subtree (a groupBy+semi-join re-tokenizes the corpus
    # on both join branches); the window exchange also acts as the barrier
    # that stops `st` re-inlining downstream.
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    kept = (
        gated.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("st.n_tokens").alias("n_tokens"))
    )
    h = md5_split_bucket()
    split = md5_split(h)
    return (
        kept.select(split.alias("split"), "doc_id", "n_tokens")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("n_tokens").cast("bigint")).alias("total_tokens"),
            F.min("doc_id").cast("bigint").alias("min_id"),
        )
        .orderBy("split")
    )


# ---------------------------------------------------------------------------
# Sequence packing: pack documents into fixed token-budget bins (2048
# tokens) for training batches. Contiguous-greedy variant: docs are
# striped into 32 independent buckets (doc_id % 32) so the running-sum
# window parallelizes — never one global single-partition window — then
# packed in doc_id order within each bucket: bin = floor(pre_sum/budget).
# ---------------------------------------------------------------------------
@register(
    "q88_sequence_packing",
    oracle=f"""
    WITH t AS (SELECT doc_id, doc_id % 32 AS bucket, len({TOKS_SQL}) AS n_tokens
               FROM documents),
    c AS (SELECT doc_id, bucket, n_tokens,
                 COALESCE(SUM(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre_sum
          FROM t),
    b AS (SELECT bucket, pre_sum // 2048 AS bin, n_tokens, doc_id FROM c)
    SELECT CAST(bucket AS BIGINT) AS bucket, CAST(bin AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc
    FROM b GROUP BY bucket, bin ORDER BY bucket, bin
    """,
)
def q88_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("doc_id") % 32).alias("bucket"),
        F.size(tokens("text")).cast("bigint").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = docs.withColumn(
        "bin", F.floor(F.coalesce(F.sum("n_tokens").over(w), F.lit(0)) / F.lit(2048))
    )
    return (
        packed.groupBy(F.col("bucket").cast("bigint").alias("bucket"), "bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("bin_tokens"),
            F.min("doc_id").cast("bigint").alias("first_doc"),
        )
        .orderBy("bucket", "bin")
    )


# ---------------------------------------------------------------------------
# Repetition detection (Gopher-style quality signal): fraction of word
# trigrams that are duplicates of an earlier trigram in the same doc.
# High ratio = boilerplate/looping text — a standard pretraining filter.
# ---------------------------------------------------------------------------
@register(
    "q89_repetition",
    oracle=f"""
    WITH t AS (SELECT doc_id, {TOKS_SQL} AS tk FROM documents),
    g AS (SELECT doc_id,
                 list_transform(range(1, greatest(len(tk) - 2, 0) + 1),
                                i -> array_to_string(tk[i:i+2], ' ')) AS tri
          FROM t)
    SELECT doc_id, CAST(len(tri) AS BIGINT) AS n_trigrams,
           CASE WHEN len(tri) > 0
                THEN ROUND(1.0 - CAST(len(list_distinct(tri)) AS DOUBLE)
                                 / CAST(len(tri) AS DOUBLE), 4)
                ELSE 0.0 END AS dup_ratio
    FROM g
    """,
)
def q89_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("tk")
    )
    # explicit guard: Spark's sequence(1, 0) is [1, 0] (descending), not
    # empty, so short docs need the branch (DuckDB's range(1, 1) IS empty)
    tri = F.expr(
        "case when size(tk) >= 3 then transform(sequence(1, size(tk) - 2),"
        " i -> concat_ws(' ', slice(tk, i, 3))) else array() end"
    )
    d = docs.select("doc_id", tri.alias("tri"))
    n = F.size("tri")
    ratio = F.when(
        n > 0,
        F.round(
            F.lit(1.0) - F.size(F.array_distinct("tri")).cast("double") / n.cast("double"),
            4,
        ),
    ).otherwise(F.lit(0.0))
    return d.select(
        "doc_id", n.cast("bigint").alias("n_trigrams"), ratio.alias("dup_ratio")
    )


# ---------------------------------------------------------------------------
# q93 — quality-weighted resampling: keep each doc with probability equal
# to its quality score, decided by a deterministic per-doc hash (md5
# first-2-hex-digit fraction < quality). Engine- and partitioning-stable,
# unlike RNG sampling; the knob a curation pipeline uses to downweight
# low-quality text without hard-cutting it.
# ---------------------------------------------------------------------------
@register(
    "q93_quality_resample",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, {TOKS_SQL} AS tk FROM documents),
    s AS (SELECT doc_id, lang, len(tk) AS n_tokens,
                 CAST(len(list_filter(tk, x -> list_contains({STOP_SQL}, x))) AS DOUBLE)
                 / CAST(len(tk) AS DOUBLE) AS stop_ratio
          FROM t),
    g AS (SELECT doc_id, lang, n_tokens,
                 ROUND(0.5 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
                       + 0.5 * least(stop_ratio * 10.0, 1.0), 4) AS quality,
                 ({MD5_SPLIT_BUCKET_SQL}) AS h
          FROM s)
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(SUM(n_tokens) AS BIGINT) AS kept_tokens
    FROM g WHERE CAST(h AS DOUBLE) / 256.0 < quality
    GROUP BY lang ORDER BY lang
    """,
)
def q93_quality_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", tokens("text").alias("tk")
    )
    n_tokens = F.size("tk")
    nstop = F.size(F.filter(F.col("tk"), lambda t: t.isin(*STOPWORDS)))
    stop_ratio = nstop.cast("double") / n_tokens.cast("double")
    quality = F.round(
        F.lit(0.5) * F.least(n_tokens.cast("double") / F.lit(100.0), F.lit(1.0))
        + F.lit(0.5) * F.least(stop_ratio * F.lit(10.0), F.lit(1.0)),
        4,
    )
    h = md5_split_bucket()
    kept = docs.select(
        "doc_id", "lang", n_tokens.alias("n_tokens"), quality.alias("quality"), h.alias("h")
    ).filter(F.col("h").cast("double") / F.lit(256.0) < F.col("quality"))
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum(F.col("n_tokens").cast("bigint")).alias("kept_tokens"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# q94 — language-mix rebalancing: truncate every language to the size of
# the smallest one, keeping each language's docs in deterministic hash
# order (not id order — avoids corpus-position bias). The data-mixture
# step of corpus assembly, done with a per-group rank so no language
# needs a global sort.
# ---------------------------------------------------------------------------
@register(
    "q94_lang_rebalance",
    oracle="""
    WITH ranked AS (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      FROM documents),
    floor_n AS (
      SELECT MIN(n) AS k FROM (SELECT COUNT(*) AS n FROM documents GROUP BY lang))
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS min_id
    FROM ranked CROSS JOIN floor_n
    WHERE rk <= k
    GROUP BY lang ORDER BY lang
    """,
)
def q94_lang_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
    ranked = docs.select("doc_id", "lang", F.row_number().over(w).alias("rk"))
    floor_n = (
        docs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.min("n").alias("k"))
    )
    return (
        ranked.crossJoin(F.broadcast(floor_n))
        .filter(F.col("rk") <= F.col("k"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("min_id"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# q95 — packed-text materialization: the actual training rows for q88's
# bins — texts concatenated in doc_id order with a separator, surfaced as
# md5 + length (the full text would hash-compare too, but stays off the
# driver). string_agg ORDER BY ↔ sorted collect_list: both deterministic.
# ---------------------------------------------------------------------------
@register(
    "q95_packed_text",
    oracle=f"""
    WITH t AS (SELECT doc_id, text, doc_id % 32 AS bucket, len({TOKS_SQL}) AS n_tokens
               FROM documents),
    c AS (SELECT doc_id, text, bucket, n_tokens,
                 COALESCE(SUM(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre_sum
          FROM t),
    b AS (SELECT bucket, pre_sum // 2048 AS bin, doc_id, text FROM c)
    SELECT CAST(bucket AS BIGINT) AS bucket, CAST(bin AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           md5(string_agg(text, chr(10) || chr(10) ORDER BY doc_id)) AS packed_fp,
           CAST(strlen(string_agg(text, chr(10) || chr(10) ORDER BY doc_id)) AS BIGINT) AS packed_chars
    FROM b GROUP BY bucket, bin ORDER BY bucket, bin
    """,
)
def q95_packed_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        (F.col("doc_id") % 32).alias("bucket"),
        F.size(tokens("text")).cast("bigint").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    binned = docs.withColumn(
        "bin", F.floor(F.coalesce(F.sum("n_tokens").over(w), F.lit(0)) / F.lit(2048))
    )
    packed = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("doc_id", "text"))),
            lambda s: s["text"],
        ),
        "\n\n",
    )
    return (
        binned.groupBy(F.col("bucket").cast("bigint").alias("bucket"), "bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.md5(packed).alias("packed_fp"),
            # byte length (encode → UTF-8) to mirror DuckDB strlen; plain
            # F.length counts characters and diverges on non-ASCII corpora
            F.length(F.encode(packed, "UTF-8")).cast("bigint").alias("packed_chars"),
        )
        .orderBy("bucket", "bin")
    )


# ---------------------------------------------------------------------------
# q103 — PII scrub: redact emails and URLs, report counts + a fingerprint
# of the scrubbed text. Patterns are restricted to syntax Java regex and
# RE2 share (no lookaround), so both engines transform identically. The
# synthetic corpus carries no PII, so deterministic emails are injected
# for every third doc first — the scrub is then provably exercised (the
# oracle injects the same ones).
# ---------------------------------------------------------------------------
_EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
_URL_RE = r"https?://[^\s]+"


@register(
    "q103_pii_scrub",
    oracle=f"""
    WITH aug AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0
                  THEN text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
                  ELSE text END AS t
      FROM documents)
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '{_EMAIL_RE}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(t, '{_URL_RE}')) AS BIGINT) AS n_urls,
           md5(regexp_replace(regexp_replace(t, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                              '{_URL_RE}', '<URL>', 'g')) AS scrubbed_fp
    FROM aug
    """,
)
def q103_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com now"),
            ),
        ).otherwise(F.col("text")).alias("t"),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace("t", _EMAIL_RE, "<EMAIL>"), _URL_RE, "<URL>"
    )
    # patterns passed as Column literals, NOT interpolated into F.expr —
    # a SQL string literal would unescape '\.' to '.' and '\s' to 's',
    # silently counting with different patterns than the scrub/oracle
    return aug.select(
        "doc_id",
        F.size(F.regexp_extract_all("t", F.lit(_EMAIL_RE), F.lit(0))).cast("bigint").alias("n_emails"),
        F.size(F.regexp_extract_all("t", F.lit(_URL_RE), F.lit(0))).cast("bigint").alias("n_urls"),
        F.md5(scrubbed).alias("scrubbed_fp"),
    )


# ---------------------------------------------------------------------------
# q104 — overlapping chunking: split each document into <=64-token chunks
# with 16-token overlap (training-data chunker). Chunk starts step by
# chunk-overlap while <= max(n_tokens - overlap, 1), so every token is
# covered, the tail chunk may be short, and a doc shorter than one chunk
# yields exactly one chunk. Chunk text is fingerprinted (md5) so the
# compare stays small. All array math — one scan, no shuffle, no UDF.
# ---------------------------------------------------------------------------
_CHUNK, _OVERLAP = 64, 16


@register(
    "q104_chunking",
    oracle=f"""
    WITH t AS (SELECT doc_id, {TOKS_SQL} AS tk FROM documents),
    st AS (SELECT doc_id, tk,
                  range(1, greatest(len(tk) - {_OVERLAP}, 1) + 1, {_CHUNK - _OVERLAP}) AS starts
           FROM t),
    e AS (SELECT doc_id, tk, u.s AS s FROM st, UNNEST(starts) AS u(s))
    SELECT doc_id,
           CAST((s - 1) // {_CHUNK - _OVERLAP} AS BIGINT) AS chunk_idx,
           CAST(len(tk[s:s+{_CHUNK}-1]) AS BIGINT) AS n_chunk_tokens,
           md5(array_to_string(tk[s:s+{_CHUNK}-1], ' ')) AS chunk_fp
    FROM e
    """,
)
def q104_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    step = _CHUNK - _OVERLAP
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("tk")
    )
    starts = F.sequence(
        F.lit(1), F.greatest(F.size("tk") - F.lit(_OVERLAP), F.lit(1)), F.lit(step)
    )
    ex = docs.select("doc_id", "tk", F.posexplode(starts).alias("chunk_idx", "s"))
    chunk = F.slice("tk", F.col("s"), _CHUNK)
    return ex.select(
        "doc_id",
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        F.size(chunk).cast("bigint").alias("n_chunk_tokens"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_fp"),
    )


# ---------------------------------------------------------------------------
# q156 — feature hashing (the "hashing trick"): tokens are hashed into a
# fixed 64-bucket index space (16-bit md5 prefix % 64 — portable to the
# oracle via the q115 hex-decode), term frequencies summed per bucket,
# and each document surfaces its sparse vector as a sorted "idx:tf"
# string. The fixed-width feature space is what lets a 100 TB text
# pipeline feed linear models without a vocabulary build: no global
# dictionary, no second pass, collisions bounded by design. One explode
# + one (doc, bucket) shuffle.
# ---------------------------------------------------------------------------
_FH_BUCKETS = 64


@register(
    "q156_feature_hashing",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({TOKS_SQL}) AS t
      FROM documents WHERE {NORM_SQL} <> ''),
    tf AS (
      SELECT doc_id, {md5_hex_int_sql("t", 4)} % {_FH_BUCKETS} AS idx, COUNT(*) AS tf
      FROM toks GROUP BY doc_id, idx)
    SELECT doc_id,
           string_agg(CAST(idx AS VARCHAR) || ':' || CAST(tf AS VARCHAR), ' ' ORDER BY idx) AS features
    FROM tf GROUP BY doc_id
    """,
)
def q156_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    norm = normalize_text("text")
    toks = docs.filter(norm != "").select(
        "doc_id", F.explode(F.split(norm, " +")).alias("t")
    )
    idx = (F.conv(F.substring(F.md5("t"), 1, 4), 16, 10).cast("long") % _FH_BUCKETS)
    tf = toks.groupBy("doc_id", idx.alias("idx")).agg(F.count(F.lit(1)).alias("tf"))
    pair = F.concat_ws(":", F.col("idx").cast("string"), F.col("tf").cast("string"))
    return (
        tf.select("doc_id", F.struct("idx", pair.alias("p")).alias("s"))
        .groupBy("doc_id")
        .agg(
            F.concat_ws(
                " ", F.transform(F.array_sort(F.collect_list("s")), lambda s: s["p"])
            ).alias("features")
        )
    )


# ---------------------------------------------------------------------------
# q184 — bigram-LM perplexity per document (the conditional-probability
# extension of q106's unigram LM quality): add-one-smoothed p(b|a) =
# (c2(a,b)+1)/(c1(a)+V) over corpus bigram/unigram counts, per-doc
# perplexity = exp(-avg ln p). Joins: doc bigrams -> c2 on (a,b), ->
# c1 on (a) — two key-partitioned shuffles over the bigram stream; V and
# nothing else is broadcast. Order-independence: each ln p term is
# rounded to DECIMAL(20,12) and decimal-summed per doc (q182's
# discipline), so the per-doc average is engine-order-proof.
# ---------------------------------------------------------------------------
@register(
    "q184_bigram_perplexity",
    oracle=f"""
    WITH t AS (SELECT doc_id, {TOKS_SQL} AS tk FROM documents),
    bg AS (
      SELECT doc_id, tk[i] AS a, tk[i+1] AS b
      FROM t, UNNEST(range(1, greatest(len(tk) - 1, 0) + 1)) AS u(i)
      WHERE len(tk) >= 2),
    c2 AS (SELECT a, b, COUNT(*) AS n2 FROM bg GROUP BY a, b),
    c1 AS (SELECT a, COUNT(*) AS n1 FROM bg GROUP BY a),
    v AS (SELECT COUNT(DISTINCT u.t) AS vocab FROM t, UNNEST(tk) AS u(t)),
    terms AS (
      SELECT bg.doc_id,
             CAST(ROUND(ln((CAST(c2.n2 AS DOUBLE) + 1.0) / (CAST(c1.n1 AS DOUBLE) + v.vocab)), 12)
                  AS DECIMAL(20,12)) AS lp
      FROM bg JOIN c2 ON bg.a = c2.a AND bg.b = c2.b
              JOIN c1 ON bg.a = c1.a
              CROSS JOIN v)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(exp(-(CAST(SUM(lp) AS DOUBLE) / COUNT(*))), 4) AS perplexity
    FROM terms GROUP BY doc_id
    """,
)
def q184_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens(F.col("text")).alias("tk")
    )
    bg = (
        docs.filter(F.size("tk") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr("transform(slice(tk, 1, size(tk) - 1), (x, i) -> struct(x AS a, tk[i+1] AS b))")
            ).alias("p"),
        )
        .select("doc_id", F.col("p.a").alias("a"), F.col("p.b").alias("b"))
    )
    c2 = bg.groupBy("a", "b").agg(F.count(F.lit(1)).alias("n2"))
    c1 = bg.groupBy("a").agg(F.count(F.lit(1)).alias("n1"))
    v = (
        docs.select(F.explode("tk").alias("t"))
        .agg(F.countDistinct("t").alias("vocab"))
    )
    terms = (
        bg.join(c2, ["a", "b"])
        .join(c1, "a")
        .crossJoin(F.broadcast(v))
        .select(
            "doc_id",
            F.round(
                F.log((F.col("n2").cast("double") + 1.0) / (F.col("n1").cast("double") + F.col("vocab"))),
                12,
            )
            .cast("decimal(20,12)")
            .alias("lp"),
        )
    )
    return terms.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
        F.round(F.exp(-(F.sum("lp").cast("double") / F.count(F.lit(1)))), 4).alias("perplexity"),
    )


# ---------------------------------------------------------------------------
# q185 — tokenizer vocab coverage / OOV rate per document: the vocab is
# the top-`_VOCAB_N` tokens by document frequency (ties broken by token
# asc — deterministic in both engines), and each doc reports its token
# count, in-vocab count and OOV rate. The vocab is dimension-bounded
# (500 rows) and broadcast into the exploded token stream; the per-doc
# rollup is one key-partitioned groupBy. The classic pre-tokenizer
# audit before committing a vocab to a 100 TB training run.
# ---------------------------------------------------------------------------
_VOCAB_N = 500


@register(
    "q185_vocab_coverage",
    oracle=f"""
    WITH t AS (SELECT doc_id, {TOKS_SQL} AS tk FROM documents),
    tok AS (SELECT doc_id, u.t AS token FROM t, UNNEST(tk) AS u(t)),
    df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY token),
    vocab AS (
      SELECT token FROM (
        SELECT token, ROW_NUMBER() OVER (ORDER BY df DESC, token ASC) AS r FROM df)
      WHERE r <= {_VOCAB_N}),
    per_doc AS (
      SELECT tok.doc_id,
             COUNT(*) AS n_tokens,
             SUM(CASE WHEN v.token IS NOT NULL THEN 1 ELSE 0 END) AS in_vocab
      FROM tok LEFT JOIN vocab v ON tok.token = v.token
      GROUP BY tok.doc_id)
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(in_vocab AS BIGINT) AS in_vocab,
           ROUND(1.0 - CAST(in_vocab AS DOUBLE) / n_tokens, 6) AS oov_rate
    FROM per_doc
    """,
)
def q185_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens(F.col("text")).alias("tk")
    )
    # r12 NEGATIVE RESULT: a lazy pin on tok (vocab broadcast build,
    # then the per-doc probe) measured only ~3% in interleaved A/B (min
    # 2.90 vs 2.74 with overlapping run distributions) — below the
    # keep bar, and at scale it would materialize the exploded token
    # stream to save one cheap scan-local explode. Deliberately
    # unpinned.
    tok = docs.select("doc_id", F.explode("tk").alias("token"))
    df = tok.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    vocab = (
        df.select(
            "token", F.row_number().over(Window.orderBy(F.desc("df"), F.asc("token"))).alias("r")
        )
        .filter(F.col("r") <= _VOCAB_N)
        .select("token")
    )
    per_doc = (
        tok.join(F.broadcast(vocab.withColumn("__v", F.lit(1))), "token", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("__v").isNotNull(), 1).otherwise(0)).alias("in_vocab"),
        )
    )
    return per_doc.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("in_vocab").cast("bigint").alias("in_vocab"),
        F.round(F.lit(1.0) - F.col("in_vocab").cast("double") / F.col("n_tokens"), 6).alias("oov_rate"),
    )


# ---------------------------------------------------------------------------
# q190 — skip-gram PMI co-occurrence (embedding-prep staple; the
# word-level sibling of q73's doc co-occurrence): token pairs within a
# +/-2 window (ordered pair canonicalized a < b), PMI = ln(N * c_ab /
# (c_a * c_b)) over skip-gram counts, top-30 by PMI among pairs with
# c_ab >= 5. Pair generation explodes each position's bounded
# lookahead (2 structs per token — linear, never a doc self-join);
# counts are two key-partitioned aggregates; the unigram side joins
# back broadcast (vocab-bounded).
# ---------------------------------------------------------------------------
@register(
    "q190_pmi_cooccurrence",
    oracle=f"""
    WITH t AS (SELECT doc_id, {TOKS_SQL} AS tk FROM documents),
    grams AS (
      SELECT CASE WHEN tk[i] < tk[i+1] THEN tk[i] ELSE tk[i+1] END AS a,
             CASE WHEN tk[i] < tk[i+1] THEN tk[i+1] ELSE tk[i] END AS b
      FROM t, UNNEST(range(1, greatest(len(tk) - 1, 0) + 1)) AS u(i)
      WHERE len(tk) > 1
      UNION ALL
      SELECT CASE WHEN tk[i] < tk[i+2] THEN tk[i] ELSE tk[i+2] END AS a,
             CASE WHEN tk[i] < tk[i+2] THEN tk[i+2] ELSE tk[i] END AS b
      FROM t, UNNEST(range(1, greatest(len(tk) - 2, 0) + 1)) AS u(i)
      WHERE len(tk) > 2),
    cab AS (SELECT a, b, COUNT(*) AS c_ab FROM grams GROUP BY a, b),
    uni AS (
      SELECT u.t AS tok, COUNT(*) AS c FROM t, UNNEST(tk) AS u(t) GROUP BY u.t),
    n AS (SELECT SUM(c_ab) AS total FROM cab)
    SELECT a, b, CAST(c_ab AS BIGINT) AS c_ab,
           ROUND(ln(CAST(n.total AS DOUBLE) * c_ab / (CAST(ua.c AS DOUBLE) * ub.c)), 6) AS pmi
    FROM cab JOIN uni ua ON cab.a = ua.tok
             JOIN uni ub ON cab.b = ub.tok
             CROSS JOIN n
    WHERE c_ab >= 5
    ORDER BY pmi DESC, a ASC, b ASC LIMIT 30
    """,
)
def q190_pmi_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(tokens(F.col("text")).alias("tk"))
    pair_expr = F.expr(
        "flatten(transform(tk, (x, i) -> filter(transform(sequence(1, 2), d ->"
        " CASE WHEN i + d < size(tk) THEN"
        "   CASE WHEN x < tk[i+d] THEN struct(x AS a, tk[i+d] AS b)"
        "        ELSE struct(tk[i+d] AS a, x AS b) END"
        " ELSE NULL END), p -> p IS NOT NULL)))"
    )
    grams = docs.select(F.explode(pair_expr).alias("p")).select(
        F.col("p.a").alias("a"), F.col("p.b").alias("b")
    )
    cab = grams.groupBy("a", "b").agg(F.count(F.lit(1)).alias("c_ab"))
    uni = docs.select(F.explode("tk").alias("tok")).groupBy("tok").agg(
        F.count(F.lit(1)).alias("c")
    )
    n = cab.groupBy().agg(F.sum("c_ab").alias("total"))
    ua = uni.select(F.col("tok").alias("a"), F.col("c").alias("c_a"))
    ub = uni.select(F.col("tok").alias("b"), F.col("c").alias("c_b"))
    return (
        cab.filter(F.col("c_ab") >= 5)
        .join(F.broadcast(ua), "a")
        .join(F.broadcast(ub), "b")
        .crossJoin(F.broadcast(n))
        .select(
            "a",
            "b",
            F.col("c_ab").cast("bigint").alias("c_ab"),
            F.round(
                F.log(F.col("total").cast("double") * F.col("c_ab") / (F.col("c_a").cast("double") * F.col("c_b"))),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), F.asc("a"), F.asc("b"))
        .limit(30)
    )


# ---------------------------------------------------------------------------
# q204 — lexical diversity per source (type-token ratio + hapax rate;
# the corpus-health stat q42's quality score doesn't see): per document
# source, total tokens, distinct tokens, TTR, and the share of tokens
# appearing exactly once in that source (hapax legomena) — boilerplate-
# heavy sources crater both numbers. Two key-partitioned aggregates
# over the exploded token stream, nothing quadratic.
# ---------------------------------------------------------------------------
@register(
    "q204_lexical_diversity",
    oracle=f"""
    WITH t AS (SELECT source, {TOKS_SQL} AS tk FROM documents),
    tok AS (SELECT source, u.t AS token FROM t, UNNEST(tk) AS u(t)),
    cnt AS (SELECT source, token, COUNT(*) AS k FROM tok GROUP BY source, token)
    SELECT source,
           CAST(SUM(k) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           ROUND(CAST(COUNT(*) AS DOUBLE) / SUM(k), 6) AS ttr,
           CAST(SUM(CASE WHEN k = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
           ROUND(CAST(SUM(CASE WHEN k = 1 THEN 1 ELSE 0 END) AS DOUBLE) / SUM(k), 6) AS hapax_rate
    FROM cnt GROUP BY source
    """,
)
def q204_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "source", tokens(F.col("text")).alias("tk")
    )
    cnt = (
        docs.select("source", F.explode("tk").alias("token"))
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    hapax = F.sum(F.when(F.col("k") == 1, 1).otherwise(0))
    return cnt.groupBy("source").agg(
        F.sum("k").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.round(F.count(F.lit(1)).cast("double") / F.sum("k"), 6).alias("ttr"),
        hapax.cast("bigint").alias("n_hapax"),
        F.round(hapax.cast("double") / F.sum("k"), 6).alias("hapax_rate"),
    )


# ---------------------------------------------------------------------------
# q217 — per-document keyword extraction (q69's corpus TF-IDF turned
# into the per-doc top-3): tf = in-doc term count, idf = ln(N/df) over
# the corpus, top-3 terms per doc by tf*idf (tie: term asc). The df
# table is vocab-bounded and joins into the exploded token stream; the
# per-doc top-3 is a rank window partitioned by doc.
# ---------------------------------------------------------------------------
@register(
    "q217_doc_keywords",
    oracle=f"""
    WITH t AS (SELECT doc_id, {TOKS_SQL} AS tk FROM documents),
    tok AS (SELECT doc_id, u.t AS term FROM t, UNNEST(tk) AS u(t)),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
    df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM t),
    scored AS (
      SELECT tf.doc_id, tf.term,
             ROUND(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
      FROM tf JOIN df ON tf.term = df.term CROSS JOIN n),
    ranked AS (
      SELECT doc_id, term, tfidf,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rn
      FROM scored)
    SELECT doc_id, CAST(rn AS INT) AS rank, term, tfidf
    FROM ranked WHERE rn <= 3
    """,
)
def q217_doc_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens(F.col("text")).alias("tk")
    )
    tok = docs.select("doc_id", F.explode("tk").alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n = docs.groupBy().agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6).alias("tfidf"),
        )
    )
    ranked = scored.withColumn(
        "rank",
        F.row_number().over(Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))),
    )
    return ranked.filter(F.col("rank") <= 3).select(
        "doc_id", F.col("rank").cast("int").alias("rank"), "term", "tfidf"
    )


# ---------------------------------------------------------------------------
# q231 — language-ID confusion matrix + precision/recall (the
# classifier-eval readout for q41's stopword-ratio detector against the
# labeled `lang` column): per (actual collapsed to en/other, predicted)
# cell counts and shares, plus the binary precision/recall/F1 for 'en'
# riding on every row (1-row stats broadcast). EXACTLY q41's decision
# rule — threshold and stopword list included.
# ---------------------------------------------------------------------------
@register(
    "q231_langid_confusion",
    oracle=f"""
    WITH t AS (SELECT lang, {TOKS_SQL} AS tk FROM documents),
    lab AS (
      SELECT CASE WHEN lang = 'en' THEN 'en' ELSE 'other' END AS actual,
             CASE WHEN CAST(len(list_filter(tk, x -> list_contains({STOP_SQL}, x))) AS DOUBLE)
                       / CAST(len(tk) AS DOUBLE) > 0.02 THEN 'en' ELSE 'other' END AS predicted
      FROM t),
    cells AS (SELECT actual, predicted, COUNT(*) AS n FROM lab GROUP BY actual, predicted),
    s AS (
      SELECT SUM(n) AS total,
             SUM(CASE WHEN actual = 'en' AND predicted = 'en' THEN n ELSE 0 END) AS tp,
             SUM(CASE WHEN actual != 'en' AND predicted = 'en' THEN n ELSE 0 END) AS fp,
             SUM(CASE WHEN actual = 'en' AND predicted != 'en' THEN n ELSE 0 END) AS fn
      FROM cells)
    SELECT actual, predicted, CAST(n AS BIGINT) AS n,
           ROUND(CAST(n AS DOUBLE) / s.total, 6) AS share,
           ROUND(CAST(s.tp AS DOUBLE) / (s.tp + s.fp), 6) AS precision_en,
           ROUND(CAST(s.tp AS DOUBLE) / (s.tp + s.fn), 6) AS recall_en,
           ROUND(2 * (CAST(s.tp AS DOUBLE) / (s.tp + s.fp)) * (CAST(s.tp AS DOUBLE) / (s.tp + s.fn))
                 / ((CAST(s.tp AS DOUBLE) / (s.tp + s.fp)) + (CAST(s.tp AS DOUBLE) / (s.tp + s.fn))), 6) AS f1_en
    FROM cells CROSS JOIN s
    """,
)
def q231_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("lang", tokens("text").alias("tk"))
    nstop = F.size(F.filter(F.col("tk"), lambda t: t.isin(*STOPWORDS)))
    ratio = nstop.cast("double") / F.size("tk").cast("double")
    lab = docs.select(
        F.when(F.col("lang") == "en", "en").otherwise("other").alias("actual"),
        F.when(ratio > 0.02, F.lit("en")).otherwise(F.lit("other")).alias("predicted"),
    )
    cells = lab.groupBy("actual", "predicted").agg(F.count(F.lit(1)).alias("n"))
    stats = cells.groupBy().agg(
        F.sum("n").alias("total"),
        F.sum(F.when((F.col("actual") == "en") & (F.col("predicted") == "en"), F.col("n")).otherwise(0)).alias("tp"),
        F.sum(F.when((F.col("actual") != "en") & (F.col("predicted") == "en"), F.col("n")).otherwise(0)).alias("fp"),
        F.sum(F.when((F.col("actual") == "en") & (F.col("predicted") != "en"), F.col("n")).otherwise(0)).alias("fn"),
    )
    prec = F.col("tp").cast("double") / (F.col("tp") + F.col("fp"))
    rec = F.col("tp").cast("double") / (F.col("tp") + F.col("fn"))
    return cells.crossJoin(F.broadcast(stats)).select(
        "actual",
        "predicted",
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("n").cast("double") / F.col("total"), 6).alias("share"),
        F.round(prec, 6).alias("precision_en"),
        F.round(rec, 6).alias("recall_en"),
        F.round(2 * prec * rec / (prec + rec), 6).alias("f1_en"),
    )


# ---------------------------------------------------------------------------
# q303 — tokenizer fertility audit per language: subword(BPE-ish,
# the q70 tokenizer) tokens per whitespace word and characters per
# subword token — the standard multilingual-tokenizer health metrics
# (high fertility = the tokenizer fragments that language).
#
# Shape (100 TB): scan-local token counting + one tiny shuffle.
# ---------------------------------------------------------------------------
@register(
    "q303_tokenizer_fertility",
    oracle=f"""
    WITH t AS (
      SELECT lang,
             CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]'))
               AS BIGINT) AS n_bpe,
             CAST(len({TOKS_SQL}) AS BIGINT) AS n_ws,
             CAST(length(text) AS BIGINT) AS n_chars
      FROM documents)
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_bpe) AS BIGINT) AS bpe_tokens,
           CAST(SUM(n_ws) AS BIGINT) AS ws_words,
           ROUND(CAST(SUM(n_bpe) AS DOUBLE) / SUM(n_ws), 6) AS fertility,
           ROUND(CAST(SUM(n_chars) AS DOUBLE) / SUM(n_bpe), 6) AS chars_per_token
    FROM t GROUP BY lang ORDER BY lang
    """,
)
def q303_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_table(spark, sf_dir, "documents").select(
        "lang",
        F.size(F.expr(r"regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
        .cast("bigint")
        .alias("n_bpe"),
        F.size(tokens("text")).cast("bigint").alias("n_ws"),
        F.length("text").cast("bigint").alias("n_chars"),
    )
    return (
        t.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_bpe").alias("bpe_tokens"),
            F.sum("n_ws").alias("ws_words"),
            F.round(F.sum("n_bpe").cast("double") / F.sum("n_ws"), 6).alias("fertility"),
            F.round(F.sum("n_chars").cast("double") / F.sum("n_bpe"), 6).alias(
                "chars_per_token"
            ),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# q338 — degenerate-repetition filter (LLM corpus quality): the longest
# run of consecutive IDENTICAL tokens per document plus the repeated
# token — the standard "the the the" loop-output detector (complements
# the q267 Gopher rules, which count duplicate n-grams without
# adjacency). Run boundaries come from change-point positions, so the
# whole computation is integer list arithmetic over the materialized
# token array.
#
# Shape (100 TB): fully scan-local (one projection per doc, display
# sort aside).
# ---------------------------------------------------------------------------
@register(
    "q338_max_repeat_run",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
    s AS (
      SELECT doc_id, toks,
             list_filter(list_transform(toks, (x, i) ->
               CASE WHEN i = 1 OR toks[i - 1] != x THEN i END),
               v -> v IS NOT NULL) AS starts
      FROM t),
    b AS (
      SELECT doc_id, toks, starts,
             list_transform(range(1, len(starts) + 1), k ->
               COALESCE(starts[k + 1], len(toks) + 1) - starts[k]) AS lens
      FROM s),
    m AS (
      SELECT doc_id, toks, starts, lens,
             list_max(lens) AS max_run,
             list_min(list_filter(list_transform(range(1, len(lens) + 1), k ->
               CASE WHEN lens[k] = list_max(lens) THEN k END),
               v -> v IS NOT NULL)) AS kstar
      FROM b)
    SELECT doc_id,
           CAST(max_run AS BIGINT) AS max_run,
           toks[starts[kstar]] AS rep_token
    FROM m WHERE max_run >= 2
    ORDER BY doc_id
    """,
)
def q338_max_repeat_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE linear fold with struct state (prev, cur, mx, best) instead of
    # the change-point/run-length array pipeline the oracle uses: the
    # array formulation self-references intermediate arrays, and after
    # Catalyst's projection collapse each reference re-inlines its whole
    # subtree — exponential expression blowup (~80 s of analysis/codegen
    # regardless of data size). The fold references `toks` exactly once.
    # Semantics: a run's token is recorded when its length first EXCEEDS
    # the running max, so ties keep the FIRST maximal run — identical to
    # the oracle's min-index choice.
    t = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("toks")
    )
    fold = F.expr(
        """
        aggregate(
          toks,
          struct(CAST('' AS STRING) AS prev, 0 AS cur, 0 AS mx,
                 CAST('' AS STRING) AS best),
          (acc, x) -> struct(
            x AS prev,
            IF(x = acc.prev, acc.cur + 1, 1) AS cur,
            IF(IF(x = acc.prev, acc.cur + 1, 1) > acc.mx,
               IF(x = acc.prev, acc.cur + 1, 1), acc.mx) AS mx,
            IF(IF(x = acc.prev, acc.cur + 1, 1) > acc.mx, x, acc.best) AS best))
        """
    )
    from ..functions.plan import with_once

    # with_once barrier (functions/plan.py, the q318 lesson): the fold
    # otherwise inlines into the mx>=2 filter and both output columns —
    # three interpreted O(n) folds per row instead of one.
    m = with_once(t, "r", fold)
    return (
        m.filter(F.col("r.mx") >= 2)
        .select(
            "doc_id",
            F.col("r.mx").cast("bigint").alias("max_run"),
            F.col("r.best").alias("rep_token"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# q367 — vocabulary coverage curve: what fraction of all token
# OCCURRENCES the top-K most frequent types cover, for a K ladder —
# the curve that sizes a tokenizer vocabulary (complement of q185's
# per-document OOV view: this is corpus-level and cumulative).
#
# Determinism: occurrence counts are exact integers; the cumulative
# rank ordering ties-breaks by token; coverage is one shared double
# division ROUND(.,6).
#
# Shape (100 TB): one map-combinable (token → count) shuffle; the
# ranking + cumulative sum then run over the TYPE table (vocabulary-
# sized, not corpus-sized — the same domain-not-rows bound as q350);
# the K ladder probes it with 4 rank lookups.
# ---------------------------------------------------------------------------
_VC_LADDER = (10, 50, 100, 500)


@register(
    "q367_vocab_coverage_curve",
    oracle=f"""
    WITH tok AS (
      SELECT unnest({TOKS_SQL}) AS tk
      FROM documents),
    cnt AS (SELECT tk, COUNT(*) AS c FROM tok GROUP BY tk),
    ranked AS (
      SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, tk) AS r,
             SUM(c) OVER (ORDER BY c DESC, tk
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM cnt),
    tot AS (SELECT SUM(c) AS n, MAX(r) AS n_types FROM ranked CROSS JOIN (SELECT 1) x),
    probe AS (SELECT UNNEST({list(_VC_LADDER)!r}) AS k)
    SELECT CAST(p.k AS BIGINT) AS k,
           CAST((SELECT MAX(cum) FROM ranked WHERE r <= p.k) AS BIGINT)
             AS covered,
           CAST(t.n_types AS BIGINT) AS n_types,
           ROUND(CAST((SELECT MAX(cum) FROM ranked WHERE r <= p.k) AS DOUBLE)
                 / t.n, 6) AS coverage
    FROM probe p CROSS JOIN tot t
    ORDER BY k
    """,
)
def q367_vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    cnt = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(tokens("text")).alias("tk"))
        .groupBy("tk")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.orderBy(F.desc("c"), F.asc("tk"))
    ranked = cnt.select(
        "c",
        F.row_number().over(w).alias("r"),
        F.sum("c").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
    )
    tot = ranked.agg(
        F.sum("c").cast("double").alias("n"),
        F.max("r").cast("bigint").alias("n_types"),
    )
    probes = F.explode(F.array(*[F.lit(k) for k in _VC_LADDER])).alias("k")
    # rank-ladder lookup: max(cum) over ranks <= k, via a broadcast of
    # the (tiny) type table against the 4-row ladder
    ladder = ranked.sparkSession.range(0).sparkSession.createDataFrame(
        [(k,) for k in _VC_LADDER], ["k"]
    )
    cov = (
        ranked.join(F.broadcast(ladder), ranked["r"] <= ladder["k"])
        .groupBy("k")
        .agg(F.max("cum").cast("bigint").alias("covered"))
    )
    return (
        cov.crossJoin(F.broadcast(tot))
        .select(
            F.col("k").cast("bigint").alias("k"),
            "covered",
            "n_types",
            F.round(F.col("covered").cast("double") / F.col("n"), 6).alias("coverage"),
        )
        .orderBy("k")
    )


# ---------------------------------------------------------------------------
# q368 — tokenizer-migration drift audit: re-tokenizing a corpus with a
# new tokenizer changes every token budget downstream, so the
# migration check compares per-source token counts under the OLD
# (whitespace-split) and NEW (alnum-normalizing) tokenizers: count
# ratio and how many documents drift by more than 10%. Run before any
# tokenizer swap to re-plan budgets (q362) and packing (q344).
#
# Determinism: integer counts; ratios are shared double divisions
# ROUND(.,6).
#
# Shape (100 TB): both tokenizations evaluate in ONE scan-local
# projection (two split expressions fused by codegen), one
# map-combinable shuffle keyed by source.
# ---------------------------------------------------------------------------
@register(
    "q368_tokenizer_drift",
    oracle=f"""
    WITH t AS (
      SELECT source,
             len(string_split(trim(text), ' ')) AS n_old,
             len({TOKS_SQL})
               AS n_new
      FROM documents)
    SELECT source,
           CAST(SUM(n_old) AS BIGINT) AS old_tokens,
           CAST(SUM(n_new) AS BIGINT) AS new_tokens,
           ROUND(CAST(SUM(n_new) AS DOUBLE) / SUM(n_old), 6) AS ratio,
           CAST(COUNT(*) FILTER (
             WHERE ABS(CAST(n_new AS DOUBLE) / n_old - 1.0) > 0.1) AS BIGINT)
             AS n_drifted
    FROM t GROUP BY source ORDER BY source
    """,
)
def q368_tokenizer_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_table(spark, sf_dir, "documents").select(
        "source",
        F.size(F.split(F.trim("text"), " ")).alias("n_old"),
        F.size(tokens("text")).alias("n_new"),
    )
    return (
        t.groupBy("source")
        .agg(
            F.sum("n_old").cast("bigint").alias("old_tokens"),
            F.sum("n_new").cast("bigint").alias("new_tokens"),
            F.round(
                F.sum("n_new").cast("double") / F.sum("n_old"), 6
            ).alias("ratio"),
            F.count_if(
                F.abs(F.col("n_new").cast("double") / F.col("n_old") - 1.0) > 0.1
            )
            .cast("bigint")
            .alias("n_drifted"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q395 — distributed BPE merge-candidate counting: the scan-and-count
# half of byte-pair-encoding vocabulary induction. Word frequencies
# reduce the corpus to a vocabulary frame; each word contributes its
# adjacent character pairs weighted by corpus frequency (per-occurrence
# multiplicity, the BPE objective); the top candidates are the next
# merges. Production BPE iterates exactly this: executors count pair
# frequencies over the (tiny) weighted vocabulary, the driver applies
# the argmax merge to the vocabulary and repeats — the distributed
# step is this query, which is why it is the catalog entry.
#
# Shape (100 TB): one shuffle to reduce the corpus to (word, count) —
# map-combinable, output is vocabulary-sized (<< corpus) — then the
# char-pair explode and second groupBy run on the vocabulary frame
# only. The corpus is scanned once.
# ---------------------------------------------------------------------------
@register(
    "q395_bpe_merge_candidates",
    oracle=f"""
    WITH tc AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT UNNEST({TOKS_SQL}) AS tok FROM documents)
      GROUP BY 1),
    pairs AS (
      SELECT substr(tok, CAST(i AS INTEGER), 1) AS left_sym,
             substr(tok, CAST(i AS INTEGER) + 1, 1) AS right_sym,
             cnt
      FROM tc, UNNEST(generate_series(1, length(tok) - 1)) AS g(i)
      WHERE length(tok) >= 2)
    SELECT left_sym, right_sym, left_sym || right_sym AS merged,
           CAST(SUM(cnt) AS BIGINT) AS freq
    FROM pairs GROUP BY 1, 2
    ORDER BY freq DESC, left_sym, right_sym LIMIT 15
    """,
)
def q395_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        F.explode(tokens("text")).alias("tok")
    )
    tc = d.groupBy("tok").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    pairs = (
        tc.filter(F.length("tok") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, length(tok) - 1), "
                    "i -> struct(substr(tok, i, 1) AS left_sym, "
                    "substr(tok, i + 1, 1) AS right_sym))"
                )
            ).alias("pr"),
            "cnt",
        )
        .select("pr.left_sym", "pr.right_sym", "cnt")
    )
    return (
        pairs.groupBy("left_sym", "right_sym")
        .agg(F.sum("cnt").cast("bigint").alias("freq"))
        .select(
            "left_sym",
            "right_sym",
            F.concat("left_sym", "right_sym").alias("merged"),
            "freq",
        )
        .orderBy(F.col("freq").desc(), "left_sym", "right_sym")
        .limit(15)
    )
