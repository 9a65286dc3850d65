"""Text-analysis query catalog over ``documents``: token statistics,
language ID (stopword heuristic), quality scoring, fingerprinting.

All column math (SURVEY §2.10 stance: no UDFs); every formula is specified
here and mirrored verbatim in the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import (
    MD5_SPLIT_BUCKET_SQL,
    NORM_SQL,
    STOP_SQL,
    STOPWORDS,
    TOKS_SQL,
    distinct_tokens_sorted,
    md5_hex_int_sql,
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
    from pyspark.sql import Window

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
             CASE WHEN h < 204 THEN 'train' WHEN h < 230 THEN 'val' ELSE 'test' END AS split
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
    split = (
        F.when(h < 204, "train").when(h < 230, "val").otherwise("test")
    )
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
             CASE WHEN h < 204 THEN 'train' WHEN h < 230 THEN 'val' ELSE 'test' END AS split
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
    from pyspark.sql import Window

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
    split = F.when(h < 204, "train").when(h < 230, "val").otherwise("test")
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
    from pyspark.sql import Window

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
    from pyspark.sql import Window

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
    from pyspark.sql import Window

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
