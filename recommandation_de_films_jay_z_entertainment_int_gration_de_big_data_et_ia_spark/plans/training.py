"""Training-data assembly for language models: length batching,
quality curricula, fill-in-the-middle, packing manifests and epoch
shuffles, span corruption, chat templates and packing, token budgets,
template-leak, prefix-cache, preference-pair and best-of-n audits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import exact_sum, exact_sum_sql
from ..functions.text import TOKS_SQL, md5_hex_int_sql, tokens
from ..sources.readers import load_table
from .catalog import register


# ---------------------------------------------------------------------------
# q302 — LLM inference/training batch packing audit: per language,
# sort docs by token length, pack into fixed-size batches of 32, and
# report each batch's padding overhead (batch cost is
# batch_rows * max_len; waste is cost minus real tokens — the quantity
# length-bucketed batching minimizes vs random batching).
#
# Shape (100 TB): one window rank per lang (the sort a real packer
# needs anyway) and one batch-key aggregate; batch ids are integer
# row-number DIV, so boundaries are engine-exact.
# ---------------------------------------------------------------------------
_BATCH_ROWS = 32


@register(
    "q302_length_batching",
    oracle=f"""
    WITH t AS (
      SELECT lang, doc_id,
             CAST(len({TOKS_SQL}) AS BIGINT) AS n_tok
      FROM documents),
    r AS (
      SELECT lang, n_tok,
             (ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_tok, doc_id) - 1)
               // {_BATCH_ROWS} AS batch
      FROM t)
    SELECT lang, CAST(batch AS BIGINT) AS batch,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MAX(n_tok) AS BIGINT) AS max_len,
           CAST(SUM(n_tok) AS BIGINT) AS real_tokens,
           CAST(COUNT(*) * MAX(n_tok) - SUM(n_tok) AS BIGINT) AS pad_waste,
           ROUND(CAST(SUM(n_tok) AS DOUBLE) / (COUNT(*) * MAX(n_tok)), 6)
             AS utilization
    FROM r GROUP BY lang, batch ORDER BY lang, batch
    """,
)
def q302_length_batching(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_table(spark, sf_dir, "documents").select(
        "lang", "doc_id", F.size(tokens("text")).cast("bigint").alias("n_tok")
    )
    w = Window.partitionBy("lang").orderBy("n_tok", "doc_id")
    # integer DIV (not float-divide-then-cast) — the file's integer-
    # boundary discipline; matches the oracle's //
    r = t.select(
        "lang", "n_tok", (F.row_number().over(w) - 1).alias("rn0")
    ).select(
        "lang",
        "n_tok",
        F.expr(f"CAST(rn0 DIV {_BATCH_ROWS} AS BIGINT)").alias("batch"),
    )
    g = r.groupBy("lang", "batch").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.max("n_tok").alias("max_len"),
        F.sum("n_tok").alias("real_tokens"),
    )
    return g.select(
        "lang",
        "batch",
        "n_docs",
        "max_len",
        "real_tokens",
        (F.col("n_docs") * F.col("max_len") - F.col("real_tokens"))
        .cast("bigint")
        .alias("pad_waste"),
        F.round(
            F.col("real_tokens").cast("double") / (F.col("n_docs") * F.col("max_len")),
            6,
        ).alias("utilization"),
    ).orderBy("lang", "batch")


# ---------------------------------------------------------------------------
# q304 — quality-ordered training curriculum: per language, order docs
# by a deterministic quality proxy (type-token ratio, the q42 family),
# then split the token budget into 4 curriculum stages by CUMULATIVE
# token count — stage boundaries in pure integer math
# ((cum-1)*4 DIV total), so every engine draws them identically.
# The standard "clean data late in training" curriculum assignment.
#
# Shape (100 TB): one window per lang over doc-level rows (the order a
# curriculum writer must produce anyway) + a broadcast of the per-lang
# token totals; stage aggregation is map-combinable.
# ---------------------------------------------------------------------------
_CURR_STAGES = 4


@register(
    "q304_quality_curriculum",
    oracle=f"""
    WITH t AS (
      SELECT lang, doc_id,
             CAST(len({TOKS_SQL}) AS BIGINT) AS n_tok,
             ROUND(CAST(len(list_distinct({TOKS_SQL}))
               AS DOUBLE)
               / len({TOKS_SQL}), 4) AS ttr
      FROM documents),
    c AS (
      SELECT lang, n_tok, ttr,
             SUM(n_tok) OVER (PARTITION BY lang ORDER BY ttr DESC, doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(n_tok) OVER (PARTITION BY lang) AS total
      FROM t)
    SELECT lang, CAST((cum - 1) * {_CURR_STAGES} // total AS BIGINT) AS stage,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS tokens,
           ROUND({exact_sum_sql("ttr")} / COUNT(*), 6)
             AS avg_ttr
    FROM c GROUP BY lang, stage ORDER BY lang, stage
    """,
)
def q304_quality_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    tk = tokens("text")
    t = load_table(spark, sf_dir, "documents").select(
        "lang",
        "doc_id",
        F.size(tk).cast("bigint").alias("n_tok"),
        F.round(
            F.size(F.array_distinct(tk)).cast("double") / F.size(tk), 4
        ).alias("ttr"),
    )
    wcum = (
        Window.partitionBy("lang")
        .orderBy(F.desc("ttr"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wtot = Window.partitionBy("lang")
    c = t.select(
        "lang",
        "n_tok",
        "ttr",
        F.sum("n_tok").over(wcum).alias("cum"),
        F.sum("n_tok").over(wtot).alias("total"),
    )
    stage = F.expr(f"(cum - 1) * {_CURR_STAGES} DIV total").cast("bigint")
    return (
        c.groupBy("lang", stage.alias("stage"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("tokens"),
            F.round(exact_sum("ttr") / F.count(F.lit(1)), 6).alias("avg_ttr"),
        )
        .orderBy("lang", "stage")
    )


# ---------------------------------------------------------------------------
# q316 — fill-in-the-middle (FIM) transform prep: per document, a
# deterministic prefix/middle/suffix split at token level (the PSM
# reordering used to build infilling training examples — Bavarian et
# al. 2022 style). The cut point derives from md5(doc_id), the middle
# span is n//4 tokens, and both prefix and suffix are guaranteed
# non-empty. The middle's md5 makes the split content-checkable
# without shipping the substring.
#
# Determinism: cut arithmetic is pure integer (md5-16bit % range, no
# floats, no engine RNG); the md5 of the space-joined middle matches
# across engines because tokenization is the shared normalize+split.
#
# Shape (100 TB): fully scan-local (one projection per doc, no
# shuffle at all except the driver's display sort) — embarrassingly
# parallel over document splits.
# ---------------------------------------------------------------------------
_FIM_MIN_TOKENS = 8


@register(
    "q316_fim_transform",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {TOKS_SQL} AS toks,
             CAST(len({TOKS_SQL}) AS BIGINT) AS n_tokens
      FROM documents),
    c AS (
      SELECT doc_id, toks, n_tokens,
             CAST(n_tokens // 4 AS BIGINT) AS span_len,
             CAST(2 + {md5_hex_int_sql("CAST(doc_id AS VARCHAR)", 4)}
                  % (n_tokens - (n_tokens // 4) - 1) AS BIGINT) AS fim_start
      FROM t WHERE n_tokens >= {_FIM_MIN_TOKENS})
    SELECT doc_id, n_tokens, fim_start, span_len,
           CAST(fim_start - 1 AS BIGINT) AS prefix_len,
           CAST(n_tokens - fim_start - span_len + 1 AS BIGINT) AS suffix_len,
           md5(array_to_string(toks[fim_start : fim_start + span_len - 1], ' '))
             AS middle_md5
    FROM c ORDER BY doc_id
    """,
)
def q316_fim_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("toks")
    )
    t = t.withColumn("n_tokens", F.size("toks").cast("bigint")).filter(
        F.col("n_tokens") >= _FIM_MIN_TOKENS
    )
    span = (F.col("n_tokens") / 4).cast("bigint")  # floor for non-negative n
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10
    ).cast("long")
    start = F.lit(2) + h % (F.col("n_tokens") - span - 1)
    c = t.select(
        "doc_id",
        "n_tokens",
        start.cast("bigint").alias("fim_start"),
        span.alias("span_len"),
        "toks",
    )
    middle = F.slice("toks", F.col("fim_start").cast("int"), F.col("span_len").cast("int"))
    return c.select(
        "doc_id",
        "n_tokens",
        "fim_start",
        "span_len",
        (F.col("fim_start") - 1).cast("bigint").alias("prefix_len"),
        (F.col("n_tokens") - F.col("fim_start") - F.col("span_len") + 1)
        .cast("bigint")
        .alias("suffix_len"),
        F.md5(F.concat_ws(" ", middle)).alias("middle_md5"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# q329 — KV-cache prefix-hit audit (LLM serving): when prompts are
# served in doc_id order within a source shard, how many leading
# tokens does each prompt share with its predecessor? Surfaces, per
# source: prompts with any shared prefix, total shared-prefix tokens
# (the KV-cache-reusable volume), and the mean shared fraction.
#
# Determinism: the shared-prefix length is pure integer arithmetic —
# first-mismatch position over the element-wise comparison of the two
# MATERIALIZED token arrays (post-window columns, so no projection-
# collapse re-evaluation); per-row fractions ROUND(.,6) → DECIMAL
# before the cross-row average.
#
# Shape (100 TB): one shuffle to co-locate each source shard, then a
# per-source window (lag) and scan-local integer folds — exactly the
# layout a sharded serving queue already has.
# ---------------------------------------------------------------------------
@register(
    "q329_prefix_cache_audit",
    oracle=f"""
    WITH t AS (
      SELECT source, doc_id, {TOKS_SQL} AS toks FROM documents),
    lagged AS (
      SELECT source, doc_id, toks,
             lag(toks) OVER (PARTITION BY source ORDER BY doc_id) AS prev
      FROM t),
    cp AS (
      SELECT source, doc_id,
             CAST(len(toks) AS BIGINT) AS m_self,
             COALESCE(list_min(list_filter(list_transform(
               range(1, least(len(toks), len(prev)) + 1),
               i -> CASE WHEN toks[i] != prev[i] THEN i END),
               x -> x IS NOT NULL)), least(len(toks), len(prev)) + 1) - 1
               AS cp_len
      FROM lagged WHERE prev IS NOT NULL)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_prompts,
           CAST(SUM(CASE WHEN cp_len > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
           CAST(SUM(cp_len) AS BIGINT) AS cached_tokens,
           ROUND(CAST(SUM(CAST(ROUND(CAST(cp_len AS DOUBLE) / m_self, 6)
                 AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS avg_shared_frac
    FROM cp GROUP BY source ORDER BY source
    """,
)
def q329_prefix_cache_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", tokens("text").alias("toks")
    )
    w = Window.partitionBy("source").orderBy("doc_id")
    lagged = t.withColumn("prev", F.lag("toks").over(w)).filter(
        F.col("prev").isNotNull()
    )
    m = F.least(F.size("toks"), F.size("prev"))
    first_mismatch = F.coalesce(
        F.array_min(
            F.filter(
                F.transform(
                    F.sequence(F.lit(1), m),
                    lambda i: F.when(
                        F.element_at("toks", i.cast("int"))
                        != F.element_at("prev", i.cast("int")),
                        i,
                    ),
                ),
                lambda x: x.isNotNull(),
            )
        ),
        m + 1,
    )
    cp = lagged.select(
        "source",
        "doc_id",
        F.size("toks").cast("bigint").alias("m_self"),
        (first_mismatch - 1).cast("bigint").alias("cp_len"),
    )
    frac = F.round(F.col("cp_len").cast("double") / F.col("m_self"), 6)
    return (
        cp.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_prompts"),
            F.sum(F.when(F.col("cp_len") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_hit"),
            F.sum("cp_len").cast("bigint").alias("cached_tokens"),
            F.round(
                F.sum(frac.cast("decimal(18,6)")).cast("double") / F.count(F.lit(1)),
                6,
            ).alias("avg_shared_frac"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q344 — pretraining packing manifest: documents are concatenated in
# (source, doc_id) order into fixed 128-token context windows (docs
# split across boundaries, GPT-style packing); the manifest emits each
# document's token offset, starting context id, and whether it spans a
# context boundary — the index a dataloader needs to seek any context
# without re-tokenizing. Distinct from q302 (length-BUCKETED batching:
# no splits); this is the sequential-fill layout.
#
# Determinism: pure integer running sums and floor-divisions.
#
# Shape (100 TB): one shuffle to co-locate each source shard, then a
# per-shard running-sum window — exactly the per-shard packing pass a
# real pipeline runs; offsets are shard-local by design.
# ---------------------------------------------------------------------------
_PK_CTX = 128


@register(
    "q344_packing_manifest",
    oracle=f"""
    WITH t AS (
      SELECT source, doc_id,
             CAST(len({TOKS_SQL}) AS BIGINT) AS n_toks
      FROM documents),
    c AS (
      SELECT source, doc_id, n_toks,
             SUM(n_toks) OVER (PARTITION BY source ORDER BY doc_id
               ROWS UNBOUNDED PRECEDING) - n_toks AS off
      FROM t)
    SELECT source, doc_id, n_toks, CAST(off AS BIGINT) AS offset,
           CAST(off // {_PK_CTX} AS BIGINT) AS context_id,
           (off // {_PK_CTX}) != ((off + n_toks - 1) // {_PK_CTX})
             AS spans_boundary
    FROM c ORDER BY source, doc_id
    """,
)
def q344_packing_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", F.size(tokens("text")).cast("bigint").alias("n_toks")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = t.withColumn("off", F.sum("n_toks").over(w) - F.col("n_toks"))
    start = F.floor(F.col("off") / _PK_CTX).cast("bigint")
    end = F.floor((F.col("off") + F.col("n_toks") - 1) / _PK_CTX).cast("bigint")
    return c.select(
        "source", "doc_id", "n_toks",
        F.col("off").cast("bigint").alias("offset"),
        start.alias("context_id"),
        (start != end).alias("spans_boundary"),
    ).orderBy("source", "doc_id")


# ---------------------------------------------------------------------------
# q345 — deterministic epoch shuffling: the per-epoch document order is
# the rank of md5(epoch || ':' || doc_id) — reproducible on any worker
# without coordination or RNG state (the standard seeded-shuffle trick
# for multi-epoch pretraining). Emits the first 5 documents of each of
# 3 epochs; different epochs produce different orders from the same
# corpus.
#
# Shape (100 TB): a 3x row-local epoch explode, one rank shuffle per
# epoch partition (WindowGroupLimit caps the per-partition sort at 5).
# ---------------------------------------------------------------------------
_EP_EPOCHS = 3
_EP_TAKE = 5


@register(
    "q345_epoch_shuffle",
    oracle=f"""
    WITH r AS (
      SELECT epoch, doc_id,
             ROW_NUMBER() OVER (PARTITION BY epoch
               ORDER BY md5(CAST(epoch AS VARCHAR) || ':'
                            || CAST(doc_id AS VARCHAR)), doc_id) AS rank
      FROM documents,
           (SELECT UNNEST(range(0, {_EP_EPOCHS})) AS epoch))
    SELECT CAST(epoch AS BIGINT) AS epoch, CAST(rank AS BIGINT) AS rank, doc_id
    FROM r WHERE rank <= {_EP_TAKE}
    ORDER BY epoch, rank
    """,
)
def q345_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    e = docs.withColumn(
        "epoch",
        F.explode(F.array(*[F.lit(i) for i in range(_EP_EPOCHS)])),
    )
    key = F.md5(
        F.concat(
            F.col("epoch").cast("string"), F.lit(":"), F.col("doc_id").cast("string")
        )
    )
    r = e.withColumn(
        "rank",
        F.row_number().over(Window.partitionBy("epoch").orderBy(key, "doc_id")),
    )
    return (
        r.filter(F.col("rank") <= _EP_TAKE)
        .select(
            F.col("epoch").cast("bigint").alias("epoch"),
            F.col("rank").cast("bigint").alias("rank"),
            "doc_id",
        )
        .orderBy("epoch", "rank")
    )


# ---------------------------------------------------------------------------
# q355 — T5-style span-corruption manifest (LLM pretraining prep): for
# each document, mask ~15% of tokens as mean-3-token spans. n_spans =
# (n*15//100)//3; the document is cut into n_spans equal strides and
# span k starts at (k-1)*stride + (md5(doc_id:k) mod (stride-3)) —
# deterministic, reproducible on any worker, and non-overlapping BY
# CONSTRUCTION (stride >= 20 whenever n_spans >= 1, since n_spans <=
# n/20). Emits the per-doc manifest fingerprint the masking job and the
# sentinel-token writer both consume.
#
# Determinism: integer div/mod only (DIV discipline) + md5-derived
# offsets (corpus.py's 16-bit md5 pattern) — no RNG, no floats.
#
# Shape (100 TB): entirely scan-local (one projection computes the
# whole spans array row-locally); the only shuffle is the display sort.
# ---------------------------------------------------------------------------
@register(
    "q355_span_corruption",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             len({TOKS_SQL})
               AS n
      FROM documents),
    s AS (
      SELECT doc_id, n, (n * 15 // 100) // 3 AS n_spans, 
             n // (CASE WHEN (n * 15 // 100) // 3 > 0
                        THEN (n * 15 // 100) // 3 ELSE 1 END) AS stride
      FROM t WHERE (n * 15 // 100) // 3 > 0),
    m AS (
      SELECT doc_id, n, n_spans,
             list_transform(range(1, n_spans + 1), k ->
               (k - 1) * stride
               + {md5_hex_int_sql("CAST(doc_id AS VARCHAR) || ':' || CAST(k AS VARCHAR)", 4)}
                 % (stride - 3)) AS starts
      FROM s)
    SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
           CAST(n_spans AS BIGINT) AS n_spans,
           CAST(n_spans * 3 AS BIGINT) AS masked_tokens,
           ROUND(CAST(n_spans * 3 AS DOUBLE) / n, 4) AS corruption_rate,
           md5(list_aggregate(list_transform(starts,
             x -> CAST(x AS VARCHAR)), 'string_agg', ',')) AS manifest_md5
    FROM m ORDER BY doc_id
    """,
)
def q355_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(tokens("text")).alias("n")
    )
    s = t.select(
        "doc_id",
        "n",
        F.expr("(n * 15 DIV 100) DIV 3").alias("n_spans"),
    ).filter(F.col("n_spans") > 0).withColumn(
        "stride", F.expr("n DIV n_spans")
    )
    starts = F.expr(
        "transform(sequence(1, n_spans), k -> (k - 1) * stride "
        "+ (conv(substring(md5(concat(CAST(doc_id AS STRING), ':', "
        "CAST(k AS STRING))), 1, 4), 16, 10) % (stride - 3)))"
    )
    m = s.select("doc_id", "n", "n_spans", starts.alias("starts"))
    return m.select(
        "doc_id",
        F.col("n").cast("bigint").alias("n_tokens"),
        F.col("n_spans").cast("bigint").alias("n_spans"),
        (F.col("n_spans") * 3).cast("bigint").alias("masked_tokens"),
        F.round((F.col("n_spans") * 3).cast("double") / F.col("n"), 4).alias(
            "corruption_rate"
        ),
        F.md5(
            F.array_join(F.transform(F.col("starts"), lambda x: x.cast("string")), ",")
        ).alias("manifest_md5"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# q356 — instruction-tuning template audit (chat formatting + loss
# masking): each document becomes a {prompt, response} sample under a
# fixed template (8-token instruction head + 2 template-overhead tokens
# + response + 1 EOS). Per source: sample count, total padded tokens,
# the average LOSS FRACTION (response tokens / total — the share of
# positions that actually train), and how many samples overflow a
# 512-token context. The standard pre-flight audit before an SFT run.
#
# Determinism: integer token counts; per-sample loss fractions
# ROUND(.,6) → DECIMAL(18,6) before the exact cross-row average.
#
# Shape (100 TB): scan-local arithmetic + one map-combinable shuffle
# keyed by source.
# ---------------------------------------------------------------------------
_CT_HEAD, _CT_OVERHEAD, _CT_EOS, _CT_CTX = 8, 2, 1, 512


@register(
    "q356_chat_template_audit",
    oracle=f"""
    WITH t AS (
      SELECT source,
             len({TOKS_SQL})
               AS n
      FROM documents),
    s AS (
      SELECT source, n,
             (CASE WHEN n < {_CT_HEAD} THEN n ELSE {_CT_HEAD} END)
               + {_CT_OVERHEAD} + n + {_CT_EOS} AS total,
             ROUND(CAST(n AS DOUBLE) /
               ((CASE WHEN n < {_CT_HEAD} THEN n ELSE {_CT_HEAD} END)
                + {_CT_OVERHEAD} + n + {_CT_EOS}), 6) AS loss_frac
      FROM t)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_samples,
           CAST(SUM(total) AS BIGINT) AS total_tokens,
           ROUND(CAST(SUM(CAST(loss_frac AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(*), 6) AS avg_loss_frac,
           CAST(COUNT(*) FILTER (WHERE total > {_CT_CTX}) AS BIGINT)
             AS n_over_context
    FROM s GROUP BY source ORDER BY source
    """,
)
def q356_chat_template_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_table(spark, sf_dir, "documents").select(
        "source", F.size(tokens("text")).alias("n")
    )
    total = (
        F.least(F.col("n"), F.lit(_CT_HEAD))
        + F.lit(_CT_OVERHEAD)
        + F.col("n")
        + F.lit(_CT_EOS)
    )
    s = t.select(
        "source",
        total.alias("total"),
        F.round(F.col("n").cast("double") / total, 6).alias("loss_frac"),
    )
    return (
        s.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_samples"),
            F.sum("total").cast("bigint").alias("total_tokens"),
            F.round(
                F.sum(F.col("loss_frac").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_loss_frac"),
            F.count_if(F.col("total") > _CT_CTX).cast("bigint").alias("n_over_context"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q362 — training token-budget allocation: given the q357 mixture
# weights and a fixed total token budget, each source's token quota,
# how many epochs over its available tokens that quota implies
# (the Muennighoff-style repetition factor), and whether it crosses
# the 4-epoch "repeated data stops helping" line. The planning table a
# pretraining run derives right after fixing its mixture.
#
# Determinism: quotas are integer DIV shares of the budget; the epoch
# factor is one shared double division ROUND(.,4).
#
# Shape (100 TB): everything after the per-source token count (one
# map-combinable shuffle, 20 groups) operates on the 20-row frame —
# three tiny broadcast self-joins, zero rescans.
# ---------------------------------------------------------------------------
_TB_BUDGET = 10_000_000  # tokens to allocate across sources
_TB_ETA = 0.5
_TB_FLOOR = 0.2


@register(
    "q362_token_budget",
    oracle=f"""
    WITH per AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(len({TOKS_SQL}))
               AS BIGINT) AS avail_tokens,
             CAST(SUM(CAST(n_chars AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
               AS proxy
      FROM documents GROUP BY source),
    tot AS (
      SELECT CAST(SUM(n) AS DOUBLE) AS n_total,
             {exact_sum_sql("proxy * n")} / SUM(n)
               AS proxy_all
      FROM per),
    raw AS (
      SELECT p.source, p.avail_tokens,
             CAST(ROUND(
               CASE WHEN (p.n / t.n_total) * (1 + {_TB_ETA} * ((p.proxy - t.proxy_all) / t.proxy_all))
                         > {_TB_FLOOR} * (p.n / t.n_total)
                    THEN (p.n / t.n_total) * (1 + {_TB_ETA} * ((p.proxy - t.proxy_all) / t.proxy_all))
                    ELSE {_TB_FLOOR} * (p.n / t.n_total) END, 8)
               AS DECIMAL(18,8)) AS w_raw
      FROM per p, tot t),
    quota AS (
      SELECT source, avail_tokens,
             CAST(floor({_TB_BUDGET} * CAST(w_raw AS DOUBLE)
                  / CAST((SELECT SUM(w_raw) FROM raw) AS DOUBLE)) AS BIGINT)
               AS q_exact
      FROM raw)
    SELECT source, avail_tokens,
           CAST(q_exact AS BIGINT) AS token_quota,
           ROUND(CAST(q_exact AS DOUBLE) / avail_tokens, 4) AS epochs,
           CAST(q_exact AS DOUBLE) / avail_tokens > 4 AS over_repeat_line
    FROM quota ORDER BY source
    """,
)
def q362_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "source", "n_chars", F.size(tokens("text")).alias("n_tok")
    )
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("n_tok").cast("bigint").alias("avail_tokens"),
        (
            F.sum(F.col("n_chars").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("proxy"),
    )
    tot = per.agg(
        F.sum("n").cast("double").alias("n_total"),
        (exact_sum(F.col("proxy") * F.col("n")) / F.sum("n")).alias("proxy_all"),
    )
    w0 = F.col("n") / F.col("n_total")
    upd = w0 * (
        F.lit(1)
        + F.lit(_TB_ETA) * ((F.col("proxy") - F.col("proxy_all")) / F.col("proxy_all"))
    )
    raw = per.crossJoin(F.broadcast(tot)).select(
        "source",
        "avail_tokens",
        F.round(F.greatest(upd, F.lit(_TB_FLOOR) * w0), 8)
        .cast("decimal(18,8)")
        .alias("w_raw"),
    )
    norm = raw.agg(F.sum("w_raw").alias("w_sum"))
    quota = raw.crossJoin(F.broadcast(norm)).select(
        "source",
        "avail_tokens",
        # floor of one shared double expression (identical IEEE ops on
        # both engines) — decimal // decimal differs between engines
        # (DuckDB rounds the decimal quotient to scale before flooring)
        F.floor(
            F.lit(_TB_BUDGET) * F.col("w_raw").cast("double")
            / F.col("w_sum").cast("double")
        )
        .cast("bigint")
        .alias("q_exact"),
    )
    return quota.select(
        "source",
        "avail_tokens",
        F.col("q_exact").cast("bigint").alias("token_quota"),
        F.round(F.col("q_exact").cast("double") / F.col("avail_tokens"), 4).alias(
            "epochs"
        ),
        (F.col("q_exact").cast("double") / F.col("avail_tokens") > 4).alias(
            "over_repeat_line"
        ),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# q363 — chat-template leak audit: count documents containing any of a
# set of template/control MARKER tokens ("assistant", "endoftext",
# plus two corpus-present controls), with the earliest token position
# and per-corpus share — the standard pre-training hygiene scan for
# chat-markup and special-token leakage into raw text. Markers with
# zero hits still surface (count 0) via a left join from the literal
# marker frame, so the report always has one row per configured marker.
#
# Determinism: integer token positions (array_position, 1-based on
# both engines); share = one shared double division ROUND(.,6).
#
# Shape (100 TB): the marker set is a 4-row literal exploded row-
# locally against each document's token array (scan-local containment
# probes fused into one projection); one map-combinable shuffle keyed
# by marker; the corpus total is a 1-row broadcast.
# ---------------------------------------------------------------------------
_TL_MARKERS = ("assistant", "endoftext", "spark", "stream")


@register(
    "q363_template_leak_audit",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             {TOKS_SQL} AS tk
      FROM documents),
    hits AS (
      SELECT m.marker,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(MIN(list_position(t.tk, m.marker)) AS BIGINT) AS min_first_pos
      FROM t CROSS JOIN (SELECT UNNEST({list(_TL_MARKERS)!r}) AS marker) m
      WHERE list_contains(t.tk, m.marker)
      GROUP BY m.marker),
    tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents)
    SELECT m.marker,
           COALESCE(h.n_docs, 0) AS n_docs,
           h.min_first_pos,
           ROUND(COALESCE(h.n_docs, 0) / t.n, 6) AS doc_share
    FROM (SELECT UNNEST({list(_TL_MARKERS)!r}) AS marker) m
    LEFT JOIN hits h ON m.marker = h.marker CROSS JOIN tot t
    ORDER BY m.marker
    """,
)
def q363_template_leak_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("tk")
    )
    m = F.explode(F.array(*[F.lit(x) for x in _TL_MARKERS])).alias("marker")
    hits = (
        docs.select("tk", m)
        .filter(F.array_contains("tk", F.col("marker")))
        .groupBy("marker")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min(F.array_position("tk", F.col("marker"))).cast("bigint").alias(
                "min_first_pos"
            ),
        )
    )
    markers = docs.sparkSession.createDataFrame(
        [(x,) for x in _TL_MARKERS], ["marker"]
    )
    tot = docs.agg(F.count(F.lit(1)).cast("double").alias("n"))
    return (
        markers.join(F.broadcast(hits), "marker", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "marker",
            F.coalesce("n_docs", F.lit(0)).cast("bigint").alias("n_docs"),
            "min_first_pos",
            F.round(F.coalesce("n_docs", F.lit(0)) / F.col("n"), 6).alias("doc_share"),
        )
        .orderBy("marker")
    )


# ---------------------------------------------------------------------------
# q371 — role-aware multi-turn SFT packing manifest (round-7 VERDICT
# #7 — the conversation-shaped extension of q344's GPT-style packing):
# each document becomes a deterministic multi-turn conversation — a
# system turn (first min(6, n) tokens) then alternating user/assistant
# body turns of width 12 (last one partial) — and conversations are
# concatenated per source in doc_id order, each turn serialized with a
# 2-token role header. The manifest emits one row PER TURN: its global
# token offset, serialized length, starting context id (256-token
# contexts, split across boundaries GPT-style with masks carried —
# the TRL-packing layout), whether it spans a context boundary, and
# the LOSS MASK (only assistant-turn content trains; headers, system
# and user spans are masked) — exactly the index an SFT dataloader
# needs to seek any context and build its loss mask without
# re-tokenizing.
#
# Determinism: pure integer running sums and closed-form per-turn
# offsets (2k + sys + 12(k-1) — no iterative fold), integer DIV.
#
# Shape (100 TB): one shuffle to co-locate each source shard for the
# running-sum window (q344's layout pass), then a scan-local per-doc
# turn explode — nbt+1 rows per doc, offsets closed-form so no
# secondary window. Offsets are shard-local by design.
# ---------------------------------------------------------------------------
_CP_SYS, _CP_TURN, _CP_HDR, _CP_CTX = 6, 12, 2, 256


@register(
    "q371_chat_packing",
    oracle=f"""
    WITH t AS (
      SELECT source, doc_id,
             CAST(len({TOKS_SQL}) AS BIGINT) AS n
      FROM documents),
    d AS (
      SELECT source, doc_id, n,
             LEAST(n, {_CP_SYS}) AS sys_len,
             n - LEAST(n, {_CP_SYS}) AS rest,
             (n - LEAST(n, {_CP_SYS}) + {_CP_TURN - 1}) // {_CP_TURN} AS nbt,
             n + {_CP_HDR} * ((n - LEAST(n, {_CP_SYS}) + {_CP_TURN - 1})
                              // {_CP_TURN} + 1) AS conv_len
      FROM t),
    c AS (
      SELECT *, SUM(conv_len) OVER (PARTITION BY source ORDER BY doc_id
               ROWS UNBOUNDED PRECEDING) - conv_len AS conv_off
      FROM d),
    turns AS (
      SELECT source, doc_id, u.k AS turn_idx,
             CASE WHEN u.k = 0 THEN 'system'
                  WHEN (u.k - 1) % 2 = 0 THEN 'user'
                  ELSE 'assistant' END AS role,
             CASE WHEN u.k = 0 THEN sys_len
                  WHEN u.k < nbt THEN {_CP_TURN}
                  ELSE rest - {_CP_TURN} * (nbt - 1) END AS width,
             conv_off + {_CP_HDR} * u.k
               + CASE WHEN u.k = 0 THEN 0
                      ELSE sys_len + {_CP_TURN} * (u.k - 1) END AS toff
      FROM c, UNNEST(range(0, nbt + 1)) AS u(k))
    SELECT source, doc_id, CAST(turn_idx AS BIGINT) AS turn_idx, role,
           CAST(toff AS BIGINT) AS start,
           CAST(width + {_CP_HDR} AS BIGINT) AS n_toks,
           CAST(toff // {_CP_CTX} AS BIGINT) AS context_id,
           (toff // {_CP_CTX})
             != ((toff + width + {_CP_HDR} - 1) // {_CP_CTX})
             AS spans_boundary,
           role = 'assistant' AS loss_mask
    FROM turns ORDER BY source, doc_id, turn_idx
    """,
)
def q371_chat_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", F.size(tokens("text")).cast("bigint").alias("n")
    )
    d = t.select(
        "source", "doc_id", "n",
        F.least(F.col("n"), F.lit(_CP_SYS)).alias("sys_len"),
        (F.col("n") - F.least(F.col("n"), F.lit(_CP_SYS))).alias("rest"),
    ).withColumn(
        "nbt", F.expr(f"(rest + {_CP_TURN - 1}) DIV {_CP_TURN}")
    ).withColumn(
        "conv_len", F.col("n") + _CP_HDR * (F.col("nbt") + 1)
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = d.withColumn("conv_off", F.sum("conv_len").over(w) - F.col("conv_len"))
    turns = c.select(
        "source", "doc_id", "sys_len", "rest", "nbt", "conv_off",
        F.explode(F.expr("sequence(0, nbt)")).alias("turn_idx"),
    )
    width = F.expr(
        f"CASE WHEN turn_idx = 0 THEN sys_len"
        f" WHEN turn_idx < nbt THEN {_CP_TURN}"
        f" ELSE rest - {_CP_TURN} * (nbt - 1) END"
    )
    toff = F.col("conv_off") + _CP_HDR * F.col("turn_idx") + F.expr(
        f"CASE WHEN turn_idx = 0 THEN 0"
        f" ELSE sys_len + {_CP_TURN} * (turn_idx - 1) END"
    )
    role = F.expr(
        "CASE WHEN turn_idx = 0 THEN 'system'"
        " WHEN (turn_idx - 1) % 2 = 0 THEN 'user'"
        " ELSE 'assistant' END"
    )
    out = turns.select(
        "source", "doc_id",
        F.col("turn_idx").cast("bigint").alias("turn_idx"),
        role.alias("role"),
        toff.cast("bigint").alias("start"),
        (width + _CP_HDR).cast("bigint").alias("n_toks"),
        toff.cast("bigint").alias("__toff"),
        width.alias("__w"),
    )
    ctx = F.expr(f"__toff DIV {_CP_CTX}")
    last_ctx = F.expr(f"(__toff + __w + {_CP_HDR - 1}) DIV {_CP_CTX}")
    return out.select(
        "source", "doc_id", "turn_idx", "role", "start", "n_toks",
        ctx.cast("bigint").alias("context_id"),
        (ctx != last_ctx).alias("spans_boundary"),
        (F.col("role") == "assistant").alias("loss_mask"),
    ).orderBy("source", "doc_id", "turn_idx")


# ---------------------------------------------------------------------------
# q377 — RLHF preference-pair length-bias audit: the standard
# pre-flight check before reward-model training — if "chosen"
# responses are systematically longer than "rejected" ones, the reward
# model learns length, not quality. Pairs are built deterministically
# (consecutive docs per source in doc_id order); "chosen" is the pair
# member with the higher type-token ratio (distinct/total tokens) —
# the quality proxy — compared EXACTLY by cross-multiplication
# (nd_a·n_b > nd_b·n_a, no float ratios), ties to the lower doc_id.
# Per source: pair count, how often chosen is the longer member, and
# the mean token-length gap (chosen − rejected; negative = the
# quality proxy anti-correlates with length).
#
# Shape (100 TB): one window shuffle keyed by source (rn + lead — the
# pairing is a single pass, no self-join), then a map-combinable
# 20-group aggregate. Token stats are scan-local.
# ---------------------------------------------------------------------------


@register(
    "q377_preference_pair_audit",
    oracle=f"""
    WITH t AS (
      SELECT source, doc_id,
             CAST(len({TOKS_SQL}) AS BIGINT) AS n,
             CAST(len(list_distinct({TOKS_SQL})) AS BIGINT) AS nd
      FROM documents),
    w AS (
      SELECT source, doc_id, n, nd,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn,
             LEAD(n)  OVER (PARTITION BY source ORDER BY doc_id) AS n_b,
             LEAD(nd) OVER (PARTITION BY source ORDER BY doc_id) AS nd_b
      FROM t),
    p AS (
      SELECT source,
             CASE WHEN nd * n_b >= nd_b * n THEN n ELSE n_b END AS chosen_n,
             CASE WHEN nd * n_b >= nd_b * n THEN n_b ELSE n END AS rejected_n
      FROM w WHERE rn % 2 = 1 AND n_b IS NOT NULL)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COUNT(*) FILTER (WHERE chosen_n > rejected_n) AS BIGINT)
             AS chosen_longer,
           ROUND(CAST(SUM(chosen_n - rejected_n) AS DOUBLE) / COUNT(*), 4)
             AS mean_len_gap
    FROM p GROUP BY source ORDER BY source
    """,
)
def q377_preference_pair_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_table(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        F.size(tokens("text")).cast("bigint").alias("n"),
        F.size(F.array_distinct(tokens("text"))).cast("bigint").alias("nd"),
    )
    # 100 TB note (shared with q302/q381): row_number over
    # partitionBy(source) is a per-source full sort — fine here because
    # the grouping is ordinal by spec (adjacent doc_ids pair up). Where
    # ordinal adjacency is NOT load-bearing, a bucketed `hash(doc_id)
    # % k` / `doc_id DIV k` grouping gives the same pair statistics
    # shuffle-free.
    w = Window.partitionBy("source").orderBy("doc_id")
    paired = t.select(
        "source", "n", "nd",
        F.row_number().over(w).alias("rn"),
        F.lead("n").over(w).alias("n_b"),
        F.lead("nd").over(w).alias("nd_b"),
    ).filter((F.col("rn") % 2 == 1) & F.col("n_b").isNotNull())
    a_chosen = F.col("nd") * F.col("n_b") >= F.col("nd_b") * F.col("n")
    p = paired.select(
        "source",
        F.when(a_chosen, F.col("n")).otherwise(F.col("n_b")).alias("chosen_n"),
        F.when(a_chosen, F.col("n_b")).otherwise(F.col("n")).alias("rejected_n"),
    )
    return (
        p.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.count_if(F.col("chosen_n") > F.col("rejected_n"))
            .cast("bigint")
            .alias("chosen_longer"),
            F.round(
                F.sum(F.col("chosen_n") - F.col("rejected_n")).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("mean_len_gap"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q381 — best-of-n (rejection-sampling) position-bias audit: candidate
# groups of 4 consecutive docs per source stand in for 4 samples from
# the same prompt; the "accepted" candidate is the type-token-ratio
# argmax (exact integer cross-multiply nd_i·n_j, ties to the earlier
# position). If acceptance is position-uniform (~25% each) the
# selection pipeline is order-blind; skew flags an ordering artifact —
# the standard sanity check before training on best-of-n outputs. Per
# position (1-4): groups won, win fraction, and the mean accepted TTR.
#
# Determinism: winner by integer cross-multiplication; TTRs
# ROUND(.,6) -> DECIMAL before the cross-row mean.
#
# Shape (100 TB): one window shuffle keyed by source (rn -> group id),
# one (source, group)-keyed 4-row-max aggregate via max_by over an
# exact integer sort key, one final 4-group aggregate. No self-join.
# ---------------------------------------------------------------------------


@register(
    "q381_best_of_n_audit",
    oracle=f"""
    WITH t AS (
      SELECT source, doc_id,
             CAST(len({TOKS_SQL}) AS BIGINT) AS n,
             CAST(len(list_distinct({TOKS_SQL})) AS BIGINT) AS nd
      FROM documents),
    w AS (
      SELECT source, doc_id, n, nd,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      FROM t),
    g AS (
      SELECT source, (rn - 1) // 4 AS grp,
             CAST((rn - 1) % 4 + 1 AS BIGINT) AS pos, n, nd
      FROM w),
    full_g AS (
      SELECT source, grp FROM g GROUP BY source, grp HAVING COUNT(*) = 4),
    win AS (
      -- argmax of nd/n per group: IEEE division of two bigints is
      -- correctly rounded and engine-identical, ties to earlier pos
      SELECT source, grp, pos AS sel_pos,
             -(neg_ttr) AS best_ttr
      FROM (
        SELECT g.source, g.grp, g.pos,
               -(CAST(nd AS DOUBLE) / n) AS neg_ttr,
               ROW_NUMBER() OVER (PARTITION BY g.source, g.grp
                 ORDER BY (CAST(nd AS DOUBLE) / n) DESC, g.pos ASC) AS rk
        FROM g JOIN full_g USING (source, grp))
      WHERE rk = 1)
    SELECT sel_pos AS position,
           CAST(COUNT(*) AS BIGINT) AS n_selected,
           ROUND(CAST(COUNT(*) AS DOUBLE)
                 / (SELECT COUNT(*) FROM win), 6) AS sel_frac,
           ROUND(CAST(SUM(CAST(ROUND(best_ttr, 6) AS DECIMAL(18,6)))
                      AS DOUBLE) / COUNT(*), 6) AS mean_sel_ttr
    FROM win GROUP BY sel_pos ORDER BY position
    """,
)
def q381_best_of_n_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_table(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        F.size(tokens("text")).cast("bigint").alias("n"),
        F.size(F.array_distinct(tokens("text"))).cast("bigint").alias("nd"),
    )
    # 100 TB note: per-source sort for ordinal 4-grouping (see q377's
    # comment) — grouping is ordinal by spec; use `doc_id DIV k` buckets
    # where adjacency isn't load-bearing.
    w = Window.partitionBy("source").orderBy("doc_id")
    g = t.select(
        "source", "n", "nd",
        F.row_number().over(w).alias("rn"),
    ).select(
        "source", "n", "nd",
        F.expr("(rn - 1) DIV 4").alias("grp"),
        F.expr("CAST((rn - 1) % 4 + 1 AS BIGINT)").alias("pos"),
    )
    win = (
        g.groupBy("source", "grp")
        .agg(
            F.count(F.lit(1)).alias("sz"),
            F.expr(
                "min_by(pos, struct(-(CAST(nd AS DOUBLE) / n), pos))"
            ).alias("sel_pos"),
            F.max(F.expr("CAST(nd AS DOUBLE) / n")).alias("best_ttr"),
        )
        .filter(F.col("sz") == 4)
        .select("sel_pos", "best_ttr")
    )
    tot = win.agg(F.count(F.lit(1)).alias("n_groups"))
    return (
        win.groupBy("sel_pos")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_selected"),
            F.round(
                F.sum(F.round(F.col("best_ttr"), 6).cast("decimal(18,6)"))
                .cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_sel_ttr"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("sel_pos").alias("position"),
            "n_selected",
            F.round(
                F.col("n_selected").cast("double") / F.col("n_groups"), 6
            ).alias("sel_frac"),
            "mean_sel_ttr",
        )
        .orderBy("position")
    )
