"""Corpus-level curation operators a web-scale training-data pipeline runs
before tokenization: unigram language-model quality scoring, URL
canonicalization + dedup, domain-mix auditing, and the deterministic
global shuffle that fixes training order.

These extend the reference's capability set (SURVEY §2 extensions): the
reference curates MovieLens with Spark ETL (`/root/reference/src/
preprocessing.py:10-26`); these are the same curation idioms at
pre-training-corpus scale. All column math — no UDFs, no collect; every
query has an exact DuckDB oracle.

Scale notes (100 TB):
- q106 builds a token->freq vocabulary (one shuffle), then scores docs
  with a vocab join. Web-corpus unigram vocabularies are ~1e7-1e8 rows
  (hundreds of MB) — broadcast when it fits (we hint it; at the extreme
  end drop the hint and let AQE pick a shuffle join on `token`, which
  stays skew-safe because stopword fan-out is on the probe side).
- q107/q108 shuffle once on the canonical URL / domain — exactly the
  partitioning you'd persist for incremental recrawl dedup.
- q109 is how you materialize training order: two rounds of
  multiplicative integer hashing (no engine-native hash(), so the DuckDB
  oracle reproduces it bit-for-bit), then ONE shuffle on `shard` and a
  within-shard sort — i.e. `write.partitionBy("shard")` order, never a
  global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import exact_sum, exact_sum_sql
from ..functions.text import (
    MD5_SPLIT_BUCKET_SQL,
    TOKS_SQL,
    md5_hex_int_sql,
    md5_split_bucket,
    tokens,
    word_shingles,
    word_shingles_sql,
)
from ..sources.readers import load_table
from .catalog import register

# ---------------------------------------------------------------------------
# q106 — unigram LM quality score: avg token log-probability under the
# corpus's own unigram distribution (the classic "perplexity-ish" quality
# filter). Per-token logprob is rounded to DECIMAL(18,6) BEFORE summing so
# the aggregate is order-independent and bit-identical across engines
# (float left-folds would diverge on Spark's partial-aggregation order).
# ---------------------------------------------------------------------------


@register(
    "q106_unigram_lm_quality",
    oracle=f"""
    WITH t AS (SELECT doc_id, unnest({TOKS_SQL}) AS token FROM documents),
    v AS (SELECT token, COUNT(*) AS freq FROM t GROUP BY token),
    v2 AS (SELECT token, freq, SUM(freq) OVER () AS total FROM v),
    s AS (SELECT doc_id,
                 CAST(ROUND(ln(CAST(freq AS DOUBLE) / CAST(total AS DOUBLE)), 6)
                      AS DECIMAL(18,6)) AS lp
          FROM t JOIN v2 USING (token))
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND(CAST(SUM(lp) AS DOUBLE) / COUNT(*), 4) AS avg_logprob
    FROM s GROUP BY doc_id
    """,
)
def q106_unigram_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    # materialize the per-doc token arrays ONCE (one row per doc — the
    # q237 bounded-memory pattern): the vocab aggregate and the probe
    # side both explode from the checkpointed arrays, instead of each
    # re-running the parquet scan + regexp split (the ~20%-over-linear
    # sf1 overhead flagged in round-5 VERDICT).
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("tk")
    ).localCheckpoint(eager=True)
    tok = docs.select("doc_id", F.explode("tk").alias("token"))
    # total folded into the vocab frame via a global window: the single
    # partition it forces holds only vocab rows (broadcast-small by the
    # same assumption that justifies the broadcast join), and it saves a
    # third corpus scan that a separate 1-row total aggregate would cost.
    vocab = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .withColumn("total", F.sum("freq").over(Window.partitionBy()))
    )
    lp = F.round(
        F.log(F.col("freq").cast("double") / F.col("total").cast("double")), 6
    ).cast("decimal(18,6)")
    return (
        tok.join(F.broadcast(vocab), "token")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum(lp).alias("__s"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.round(F.col("__s").cast("double") / F.col("n_tokens"), 4).alias(
                "avg_logprob"
            ),
        )
    )


# ---------------------------------------------------------------------------
# URL canonicalization. The synthetic corpus has no URL column, so a
# deterministic messy URL is derived from doc_id first (mixed case, www,
# tracking params, unsorted params, trailing slash) — the oracle derives
# the identical one, so the canonicalizer is provably exercised.
# Canonical form: lowercase, scheme/www./fragment stripped, tracking
# params (utm_*, ref, fbclid) dropped, remaining params sorted, trailing
# slashes trimmed. Site index is skewed (every 5th doc -> site0) so the
# domain-mix audit (q108) has something to flag.
# ---------------------------------------------------------------------------
_TRACK_RE = r"^(utm_[a-z]+|ref|fbclid)="

_URL_INJECT_SQL = """
    CASE WHEN doc_id % 3 = 0 THEN
        'HTTPS://WWW.Site' || CAST(CASE WHEN doc_id % 5 = 0 THEN 0 ELSE doc_id % 40 END AS VARCHAR)
        || '.example/Path' || CAST(doc_id % 7 AS VARCHAR)
        || '/?utm_source=feed&id=' || CAST(doc_id % 25 AS VARCHAR) || '&utm_campaign=z'
    WHEN doc_id % 3 = 1 THEN
        'http://site' || CAST(CASE WHEN doc_id % 5 = 0 THEN 0 ELSE doc_id % 40 END AS VARCHAR)
        || '.example/path' || CAST(doc_id % 7 AS VARCHAR)
        || '?id=' || CAST(doc_id % 25 AS VARCHAR) || '&ref=tw'
    ELSE
        'https://Site' || CAST(CASE WHEN doc_id % 5 = 0 THEN 0 ELSE doc_id % 40 END AS VARCHAR)
        || '.example/Path' || CAST(doc_id % 7 AS VARCHAR) || '/?b=2&a=1'
    END
"""

_CANON_SQL = """
    SELECT doc_id, u,
           regexp_replace(
               regexp_extract(regexp_replace(regexp_replace(regexp_replace(lower(u),
                   '^https?://', ''), '^www\\.', ''), '#.*$', ''), '^[^?#]*', 0),
               '/+$', '') AS path,
           regexp_extract(regexp_replace(regexp_replace(regexp_replace(lower(u),
               '^https?://', ''), '^www\\.', ''), '#.*$', ''), '\\?([^#]*)', 1) AS query
"""


def _inject_url() -> F.Column:
    site = F.when(F.col("doc_id") % 5 == 0, F.lit(0)).otherwise(F.col("doc_id") % 40)
    s, p, i = (
        site.cast("string"),
        (F.col("doc_id") % 7).cast("string"),
        (F.col("doc_id") % 25).cast("string"),
    )
    return (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit("HTTPS://WWW.Site"), s, F.lit(".example/Path"), p,
                F.lit("/?utm_source=feed&id="), i, F.lit("&utm_campaign=z"),
            ),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(
                F.lit("http://site"), s, F.lit(".example/path"), p,
                F.lit("?id="), i, F.lit("&ref=tw"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("https://Site"), s, F.lit(".example/Path"), p, F.lit("/?b=2&a=1")
            )
        )
    )


def _canon_parts(urls: DataFrame) -> DataFrame:
    """doc_id, path (host+path, trailing-slash-trimmed), query string."""
    base = F.regexp_replace(
        F.regexp_replace(F.regexp_replace(F.lower("u"), "^https?://", ""), r"^www\.", ""),
        "#.*$", "",
    )
    return urls.select(
        "doc_id",
        "u",
        F.regexp_replace(F.regexp_extract(base, "^[^?#]*", 0), "/+$", "").alias("path"),
        F.regexp_extract(base, r"\?([^#]*)", 1).alias("query"),
    )


def _canon_url(parts: DataFrame) -> DataFrame:
    kept = F.array_sort(
        F.filter(
            F.split("query", "&"),
            lambda prm: (prm != F.lit("")) & ~prm.rlike(_TRACK_RE),
        )
    )
    qs = F.array_join(kept, "&")
    return parts.select(
        "doc_id",
        F.concat(
            F.col("path"),
            F.when(qs == "", F.lit("")).otherwise(F.concat(F.lit("?"), qs)),
        ).alias("canon_url"),
    )


_CANON_FULL_SQL = f"""
    WITH urls AS (SELECT doc_id, {_URL_INJECT_SQL} AS u FROM documents),
    parts AS ({_CANON_SQL} FROM urls),
    canon AS (
      SELECT doc_id,
             path || CASE WHEN qs = '' THEN '' ELSE '?' || qs END AS canon_url
      FROM (SELECT doc_id, path,
                   array_to_string(list_sort(list_filter(string_split(query, '&'),
                       prm -> prm <> '' AND NOT regexp_matches(prm, '{_TRACK_RE}'))), '&') AS qs
            FROM parts))
"""


@register(
    "q107_url_dedup",
    oracle=f"""
    {_CANON_FULL_SQL}
    SELECT doc_id, canon_url,
           CAST(MIN(doc_id) OVER (PARTITION BY canon_url) AS BIGINT) AS winner,
           doc_id <> MIN(doc_id) OVER (PARTITION BY canon_url) AS is_dup
    FROM canon
    """,
)
def q107_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", _inject_url().alias("u"))
    canon = _canon_url(_canon_parts(docs))
    w = Window.partitionBy("canon_url")
    return canon.select(
        "doc_id",
        "canon_url",
        F.min("doc_id").over(w).cast("bigint").alias("winner"),
        (F.col("doc_id") != F.min("doc_id").over(w)).alias("is_dup"),
    )


# ---------------------------------------------------------------------------
# q108 — domain-mix audit (C4/RefinedWeb-style): docs per domain, corpus
# share, over-representation flag. One shuffle on domain; the corpus
# total is a broadcast 1-row frame (never a second pass).
# ---------------------------------------------------------------------------
_OVER_SHARE = 0.03


@register(
    "q108_domain_mix",
    oracle=f"""
    WITH urls AS (SELECT doc_id, {_URL_INJECT_SQL} AS u FROM documents),
    d AS (SELECT regexp_extract(regexp_replace(regexp_replace(lower(u),
                 '^https?://', ''), '^www\\.', ''), '^[^/:?#]+', 0) AS domain
          FROM urls),
    g AS (SELECT domain, COUNT(*) AS n_docs FROM d GROUP BY domain),
    tot AS (SELECT SUM(n_docs) AS total FROM g)
    SELECT domain, CAST(n_docs AS BIGINT) AS n_docs,
           ROUND(CAST(n_docs AS DOUBLE) / CAST(total AS DOUBLE), 4) AS share,
           CAST(n_docs AS DOUBLE) / CAST(total AS DOUBLE) > {_OVER_SHARE} AS over_represented
    FROM g CROSS JOIN tot
    """,
)
def q108_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", _inject_url().alias("u"))
    base = F.regexp_replace(
        F.regexp_replace(F.lower("u"), "^https?://", ""), r"^www\.", ""
    )
    grouped = (
        docs.select(F.regexp_extract(base, "^[^/:?#]+", 0).alias("domain"))
        .groupBy("domain")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = grouped.agg(F.sum("n").alias("total"))
    share = F.col("n").cast("double") / F.col("total").cast("double")
    return grouped.crossJoin(F.broadcast(total)).select(
        "domain",
        F.col("n").cast("bigint").alias("n_docs"),
        F.round(share, 4).alias("share"),
        (share > _OVER_SHARE).alias("over_represented"),
    )


# ---------------------------------------------------------------------------
# q109 — deterministic global shuffle: fix a pseudo-random training order
# with two rounds of multiplicative integer hashing (Knuth / LCG
# constants), shard on the hash, order within shard. All BIGINT
# arithmetic (max intermediate ~4.7e18 < 2^63), so the oracle reproduces
# it exactly — no reliance on either engine's native hash().
# ---------------------------------------------------------------------------
_M32 = 4294967296


@register(
    "q109_global_shuffle",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, ((doc_id * 2654435761 + 40503) % {_M32}) AS h1 FROM documents),
    h2 AS (SELECT doc_id, ((h1 * 1103515245 + 12345) % {_M32}) AS hv FROM h)
    SELECT doc_id, CAST(hv % 32 AS BIGINT) AS shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY hv % 32 ORDER BY hv, doc_id) AS BIGINT) AS pos
    FROM h2
    """,
)
def q109_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    h1 = (F.col("doc_id") * F.lit(2654435761) + F.lit(40503)) % F.lit(_M32)
    hashed = docs.select("doc_id", ((h1 * F.lit(1103515245) + F.lit(12345)) % F.lit(_M32)).alias("hv"))
    sharded = hashed.select("doc_id", "hv", (F.col("hv") % 32).cast("bigint").alias("shard"))
    w = Window.partitionBy("shard").orderBy("hv", "doc_id")
    return sharded.select(
        "doc_id", "shard", F.row_number().over(w).cast("bigint").alias("pos")
    )


# ---------------------------------------------------------------------------
# q110 — boilerplate n-gram audit (RefinedWeb/CCNet "duplicated n-gram
# fraction" filter): a 5-gram is boilerplate when it occurs in >= K
# distinct documents; each doc reports what fraction of its 5-gram
# occurrences are boilerplate. On this corpus the signal comes from the
# planted duplicate groups (random-token docs don't collide at n=5) —
# which is exactly the real-world mechanism (mirrored templates/footers).
#
# Shape (100 TB): explode 5-grams (scan-local), ONE distinct-count
# shuffle on the shingle to build the boilerplate set, then a join back.
# The boilerplate set is tiny by construction (only cross-doc-repeated
# n-grams survive the >=K filter) so it broadcasts; the corpus is never
# shuffled — per-doc aggregation happens on the exploded frame which is
# already partitioned by input split, and the final groupBy(doc_id) is
# the one unavoidable shuffle. No all-pairs anything.
# ---------------------------------------------------------------------------
_BOILER_N = 5
_BOILER_K = 3
# 5-gram occurrences (NOT distinct — the fraction is over occurrences).
_SH5_SQL = word_shingles_sql(_BOILER_N)


@register(
    "q110_boilerplate_ngrams",
    oracle=f"""
    WITH t AS (SELECT doc_id, {TOKS_SQL} AS tk FROM documents),
    occ AS (SELECT doc_id, unnest({_SH5_SQL}) AS sh FROM t),
    boiler AS (SELECT sh FROM occ GROUP BY sh
               HAVING COUNT(DISTINCT doc_id) >= {_BOILER_K})
    SELECT o.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_ngrams,
           CAST(COUNT(b.sh) AS BIGINT) AS n_boiler,
           ROUND(CAST(COUNT(b.sh) AS DOUBLE) / COUNT(*), 4) AS boiler_frac
    FROM occ o LEFT JOIN boiler b USING (sh)
    GROUP BY o.doc_id
    """,
)
def q110_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("tk")
    )
    # r12 NEGATIVE RESULT: a lazy pin on occ (consumed by the boiler
    # broadcast build, then the probe) measured FLAT in interleaved A/B
    # (min 3.20 unpinned vs 3.23 pinned) — the probe-side replay
    # overlaps the broadcast wait, and at scale materializing the
    # exploded 5-gram stream costs far more than re-streaming the scan.
    # Deliberately unpinned.
    occ = docs.select("doc_id", F.explode(word_shingles(F.col("tk"), _BOILER_N)).alias("sh"))
    boiler = (
        occ.groupBy("sh")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= _BOILER_K)
        .select("sh", F.lit(1).alias("__b"))
    )
    return (
        occ.join(F.broadcast(boiler), "sh", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_ngrams"),
            F.count("__b").cast("bigint").alias("n_boiler"),
        )
        .select(
            "doc_id",
            "n_ngrams",
            "n_boiler",
            F.round(F.col("n_boiler").cast("double") / F.col("n_ngrams"), 4).alias(
                "boiler_frac"
            ),
        )
    )


# ---------------------------------------------------------------------------
# q111 — benchmark decontamination (the n-gram-overlap scan every serious
# pre-training pipeline runs against its eval sets): the held-out set is
# docs with doc_id % 97 == 0; a training doc is contaminated if it shares
# any 8-gram with any held-out doc. Reports every contaminated training
# doc with its count of distinct shared 8-grams.
#
# Shape (100 TB): the held-out n-gram set is small (eval sets are MBs,
# not TBs) -> distinct once, broadcast; the training corpus is scanned
# once, exploded scan-locally, semi-reduced by the broadcast join, and
# only matching (doc, ngram) rows reach the final groupBy. The training
# side is never shuffled in full.
# ---------------------------------------------------------------------------
_DECON_N = 8
_SH8_SQL = f"list_distinct({word_shingles_sql(_DECON_N)})"


@register(
    "q111_ngram_decontaminate",
    oracle=f"""
    WITH t AS (SELECT doc_id, {TOKS_SQL} AS tk FROM documents),
    s AS (SELECT doc_id, unnest({_SH8_SQL}) AS sh FROM t),
    bench AS (SELECT DISTINCT sh FROM s WHERE doc_id % 97 = 0)
    SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM s JOIN bench USING (sh)
    WHERE s.doc_id % 97 <> 0
    GROUP BY s.doc_id
    """,
)
def q111_ngram_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("tk")
    )
    sh = docs.select(
        "doc_id",
        F.explode(F.array_distinct(word_shingles(F.col("tk"), _DECON_N))).alias("sh"),
    )
    bench = sh.filter(F.col("doc_id") % 97 == 0).select("sh").distinct()
    return (
        sh.filter(F.col("doc_id") % 97 != 0)
        .join(F.broadcast(bench), "sh")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
    )


# ---------------------------------------------------------------------------
# q115 — deterministic weighted sampling without replacement
# (Efraimidis–Spirakis): each doc draws u from its md5 (16-bit slice,
# (h+0.5)/65536 ∈ (0,1)) and keys on ln(u)/n_chars; the top-100 keys ARE
# a weighted sample (P ∝ n_chars). Fully deterministic — both engines
# replay the identical hash → identical sample. The key is rounded to
# 8 dp (ln ulp differences live at ~1e-16 relative) and ties break on
# doc_id, so the top-k cut is cross-engine exact.
#
# Shape (100 TB): no global sort — top-k via TakeOrderedAndProject
# (per-partition partial top-k, then one k-row merge at the driver edge).
# This is how you draw a quality-weighted pre-training subsample without
# shuffling the corpus.
# ---------------------------------------------------------------------------
_WS_K = 100


@register(
    "q115_weighted_sample",
    oracle=f"""
    WITH k AS (
      SELECT doc_id, n_chars,
             ROUND(ln((CAST({md5_hex_int_sql("CAST(doc_id AS VARCHAR)", 4)} AS DOUBLE) + 0.5) / 65536.0)
                   / CAST(n_chars AS DOUBLE), 8) AS key
      FROM documents)
    SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars, key
    FROM k ORDER BY key DESC, doc_id ASC LIMIT {_WS_K}
    """,
)
def q115_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10).cast(
        "double"
    )
    key = F.round(
        F.log((h + F.lit(0.5)) / F.lit(65536.0)) / F.col("n_chars").cast("double"), 8
    )
    return (
        docs.select("doc_id", F.col("n_chars").cast("bigint").alias("n_chars"), key.alias("key"))
        .orderBy(F.col("key").desc(), F.col("doc_id").asc())
        .limit(_WS_K)
    )


# ---------------------------------------------------------------------------
# q123 — the end-to-end pre-training corpus pipeline, ONE declarative
# plan composing the catalog's curation stages in production order:
#   1. exact dedup, keep-first (md5 window — q31's shape)
#   2. boilerplate gate: duplicated-5-gram fraction < 0.5 (q110)
#   3. benchmark decontamination: drop docs sharing an 8-gram with the
#      held-out set, which itself never enters the corpus (q111)
#   4. deterministic shard assignment (q109's multiplicative hashes)
#   5. per-shard report: docs, tokens, min id
# The point is composability: every stage is a DataFrame->DataFrame
# transform, so Catalyst sees ONE plan — gates fuse into scans, the
# boilerplate/benchmark sets build once and broadcast, and nothing
# materializes between stages.
#
# Shape (100 TB): 2 corpus-wide shuffles total (dedup window on the
# content hash; final per-shard agg) + 2 tiny broadcast builds
# (boilerplate set, benchmark 8-grams). The corpus is never shuffled for
# the gates themselves.
# ---------------------------------------------------------------------------
@register(
    "q123_pretraining_pipeline",
    oracle=f"""
    WITH t AS (SELECT doc_id, text, {TOKS_SQL} AS tk FROM documents
               WHERE doc_id % 97 <> 0),
    surv AS (SELECT MIN(doc_id) AS doc_id FROM t GROUP BY md5(text)),
    d AS (SELECT t.* FROM t JOIN surv USING (doc_id)),
    occ AS (SELECT doc_id, unnest({_SH5_SQL}) AS sh FROM d),
    boiler AS (SELECT sh FROM occ GROUP BY sh
               HAVING COUNT(DISTINCT doc_id) >= {_BOILER_K}),
    bfrac AS (
      SELECT o.doc_id,
             CAST(COUNT(b.sh) AS DOUBLE) / COUNT(*) AS frac
      FROM occ o LEFT JOIN boiler b USING (sh) GROUP BY o.doc_id),
    clean AS (SELECT d.* FROM d JOIN bfrac USING (doc_id) WHERE bfrac.frac < 0.5),
    bench AS (
      SELECT DISTINCT unnest({_SH8_SQL}) AS sh
      FROM (SELECT {TOKS_SQL} AS tk FROM documents WHERE doc_id % 97 = 0)),
    contaminated AS (
      SELECT DISTINCT s.doc_id
      FROM (SELECT doc_id, unnest({_SH8_SQL}) AS sh FROM clean) s
      JOIN bench USING (sh)),
    final AS (
      SELECT c.doc_id, len(c.tk) AS n_tokens,
             ((((c.doc_id * 2654435761 + 40503) % {_M32}) * 1103515245 + 12345) % {_M32}) % 16 AS shard
      FROM clean c LEFT JOIN contaminated x ON c.doc_id = x.doc_id
      WHERE x.doc_id IS NULL)
    SELECT CAST(shard AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(MIN(doc_id) AS BIGINT) AS min_id
    FROM final GROUP BY shard
    """,
)
def q123_pretraining_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 97 != 0)
        .select("doc_id", "text", tokens("text").alias("tk"))
    )
    # 1. exact dedup keep-first (window over the content hash: one
    # shuffle, no duplicated scan subtree — q86's measured pattern)
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    d = (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn", "text")
    )
    # 2. boilerplate gate on the deduped corpus
    occ = d.select("doc_id", F.explode(word_shingles(F.col("tk"), _BOILER_N)).alias("sh"))
    boiler = (
        occ.groupBy("sh")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= _BOILER_K)
        .select("sh", F.lit(1).alias("__b"))
    )
    bfrac = (
        occ.join(F.broadcast(boiler), "sh", "left")
        .groupBy("doc_id")
        .agg((F.count("__b").cast("double") / F.count(F.lit(1))).alias("frac"))
    )
    clean = d.join(bfrac, "doc_id").filter(F.col("frac") < 0.5).drop("frac")
    # 3. decontamination: anti-join on the broadcast held-out 8-gram set
    bench = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 97 == 0)
        .select(F.explode(F.array_distinct(word_shingles(tokens("text"), _DECON_N))).alias("sh"))
        .distinct()
    )
    clean_sh = clean.select(
        "doc_id", F.explode(F.array_distinct(word_shingles(F.col("tk"), _DECON_N))).alias("sh")
    )
    contaminated = clean_sh.join(F.broadcast(bench), "sh").select("doc_id").distinct()
    final = clean.join(contaminated, "doc_id", "left_anti")
    # 4. deterministic shards (q109's hash chain)
    h1 = (F.col("doc_id") * F.lit(2654435761) + F.lit(40503)) % F.lit(_M32)
    hv = (h1 * F.lit(1103515245) + F.lit(12345)) % F.lit(_M32)
    return (
        final.select("doc_id", F.size("tk").alias("n_tokens"), (hv % 16).alias("shard"))
        .groupBy(F.col("shard").cast("bigint").alias("shard"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.min("doc_id").cast("bigint").alias("min_id"),
        )
    )


# ---------------------------------------------------------------------------
# q127 — split drift monitor: the domain (source) distribution of the
# q80 hash-split train half vs the rest, reported as per-domain smoothed
# KL-divergence terms p·ln(p/q) (add-1 smoothing so unseen domains don't
# produce infinities). The check a corpus pipeline runs after any
# resample/rebalance: a drifted split shows a fat kl_term on the domain
# that moved. Per-term logs are rounded at 10 dp (ln ulp guard); a
# consumer summing terms should cast to DECIMAL first (q106's
# order-independence pattern).
#
# Shape (100 TB): one scan; the split flag is scan-local hash math; one
# groupBy (source, split) over a tiny domain set; the per-domain totals
# come from a window over that already-aggregated frame. The corpus is
# shuffled once.
# ---------------------------------------------------------------------------
@register(
    "q127_split_drift_kl",
    oracle=f"""
    WITH s AS (
      SELECT source, CASE WHEN {MD5_SPLIT_BUCKET_SQL} < 204 THEN 'train' ELSE 'eval' END AS split
      FROM documents),
    c AS (SELECT source,
                 COUNT(*) FILTER (WHERE split = 'train') + 1 AS n_train,
                 COUNT(*) FILTER (WHERE split = 'eval') + 1 AS n_eval
          FROM s GROUP BY source),
    t AS (SELECT source, n_train, n_eval,
                 SUM(n_train) OVER () AS tot_train, SUM(n_eval) OVER () AS tot_eval
          FROM c)
    SELECT source,
           CAST(n_train - 1 AS BIGINT) AS n_train,
           CAST(n_eval - 1 AS BIGINT) AS n_eval,
           ROUND(CAST(n_train AS DOUBLE) / tot_train, 6) AS p,
           ROUND(CAST(n_eval AS DOUBLE) / tot_eval, 6) AS q,
           ROUND((CAST(n_train AS DOUBLE) / tot_train)
                 * ln((CAST(n_train AS DOUBLE) / tot_train)
                      / (CAST(n_eval AS DOUBLE) / tot_eval)), 10) AS kl_term
    FROM t
    """,
)
def q127_split_drift_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    h = md5_split_bucket()
    s = docs.select(
        "source", F.when(h < 204, "train").otherwise("eval").alias("split")
    )
    c = s.groupBy("source").agg(
        (F.sum(F.when(F.col("split") == "train", 1).otherwise(0)) + 1).alias("n_train"),
        (F.sum(F.when(F.col("split") == "eval", 1).otherwise(0)) + 1).alias("n_eval"),
    )
    # totals via a global window over the tiny per-domain frame (q106's
    # justified single-partition: rows = |domains|, broadcast-small)
    t = c.select(
        "source",
        "n_train",
        "n_eval",
        F.sum("n_train").over(Window.partitionBy()).alias("tot_train"),
        F.sum("n_eval").over(Window.partitionBy()).alias("tot_eval"),
    )
    p = F.col("n_train").cast("double") / F.col("tot_train")
    q = F.col("n_eval").cast("double") / F.col("tot_eval")
    return t.select(
        "source",
        (F.col("n_train") - 1).cast("bigint").alias("n_train"),
        (F.col("n_eval") - 1).cast("bigint").alias("n_eval"),
        F.round(p, 6).alias("p"),
        F.round(q, 6).alias("q"),
        F.round(p * F.log(p / q), 10).alias("kl_term"),
    )


# ---------------------------------------------------------------------------
# q153 — training-shard export with manifest: q109's deterministic global
# shuffle is MATERIALIZED (repartition by shard, sorted within, parquet
# partitioned by shard under .tmp) and then read back to produce the
# manifest every dataloader consumes: per shard, row count, key range,
# and an ORDER-SENSITIVE fingerprint (md5 of the '-'-joined doc ids in
# position order). The oracle recomputes the manifest from the hash
# math alone — a match proves the write→read round trip preserved both
# membership and order. Shape (100 TB): one shuffle to shards, one
# write, manifest is a per-shard aggregate of the written files.
# ---------------------------------------------------------------------------
@register(
    "q153_shard_manifest",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, ((doc_id * 2654435761 + 40503) % {_M32}) AS h1 FROM documents),
    h2 AS (SELECT doc_id, ((h1 * 1103515245 + 12345) % {_M32}) AS hv FROM h),
    sharded AS (
      SELECT doc_id, CAST(hv % 32 AS BIGINT) AS shard,
             ROW_NUMBER() OVER (PARTITION BY hv % 32 ORDER BY hv, doc_id) AS pos
      FROM h2)
    SELECT shard, COUNT(*) AS n_rows,
           MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc,
           md5(string_agg(CAST(doc_id AS VARCHAR), '-' ORDER BY pos)) AS order_hash
    FROM sharded GROUP BY shard
    """,
)
def q153_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import atexit
    import hashlib
    import os
    import shutil

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    h1 = (F.col("doc_id") * F.lit(2654435761) + F.lit(40503)) % F.lit(_M32)
    hashed = docs.select(
        "doc_id", ((h1 * F.lit(1103515245) + F.lit(12345)) % F.lit(_M32)).alias("hv")
    )
    sharded = hashed.select(
        "doc_id", "hv", (F.col("hv") % 32).cast("bigint").alias("shard")
    )
    w = Window.partitionBy("shard").orderBy("hv", "doc_id")
    ordered = sharded.select("doc_id", "shard", F.row_number().over(w).alias("pos"))

    root = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))), ".tmp")
    # pid in the tag: concurrent pytest workers / parity processes must
    # not overwrite each other's in-flight export (scripts/fast_suite.sh)
    path = os.path.join(
        root,
        f"shard_export_{hashlib.md5(f'{sf_dir}:{os.getpid()}'.encode()).hexdigest()[:8]}",
    )
    # the returned frame reads the export lazily, so it lives until exit
    atexit.register(shutil.rmtree, path, True)
    (
        ordered.repartition("shard")
        .sortWithinPartitions("shard", "pos")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )
    back = spark.read.parquet(path)
    ids_in_order = F.transform(
        F.array_sort(F.collect_list(F.struct("pos", "doc_id"))), lambda s: s["doc_id"]
    )
    return (
        back.groupBy(F.col("shard").cast("bigint").alias("shard"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
            F.md5(F.encode(F.concat_ws("-", ids_in_order), "UTF-8")).alias("order_hash"),
        )
    )


# ---------------------------------------------------------------------------
# q253 — INTRA-document repeated-span removal (the within-doc half of
# exact substring dedup, Lee et al. "Deduplicating Training Data Makes
# Language Models Better"): every occurrence after the first of a
# repeated n-gram span (n=2 here — the synthetic corpus's 31-token
# vocabulary repeats heavily at bigram length) is removed; the cleaned
# token sequence is the original order minus all covered positions.
# Complements q31/q237 (cross-doc) and q110 (cross-doc boilerplate):
# training pipelines run this pass per document BEFORE tokenization.
#
# Shape: one explode to (doc, start, gram), one window row_number per
# (doc, gram) — partition keys are fine-grained so the shuffle is
# skew-free — duplicate starts fan out to covered positions, one
# groupBy(doc) collects the cover set, and the cleaned sequence is pure
# array math against the original token array. Output carries an md5 of
# the cleaned text so the oracle hash-checks reconstruction exactly.
# ---------------------------------------------------------------------------
_SPAN_N = 2


@register(
    "q253_intradoc_span_dedup",
    oracle=f"""
    WITH t AS (SELECT doc_id, {TOKS_SQL} AS tk FROM documents),
    g AS (SELECT doc_id, i,
                 list_aggregate(tk[i:i + {_SPAN_N - 1}], 'string_agg', ' ') AS gram
          FROM t, UNNEST(range(1, len(tk) - {_SPAN_N - 2})) AS u(i)),
    r AS (SELECT doc_id, i,
                 ROW_NUMBER() OVER (PARTITION BY doc_id, gram ORDER BY i) AS rn
          FROM g),
    cov AS (SELECT DISTINCT doc_id, u.p
            FROM r, UNNEST(range(i, i + {_SPAN_N})) AS u(p) WHERE rn > 1),
    c AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_removed, list(p) AS ps
          FROM cov GROUP BY doc_id)
    SELECT t.doc_id,
           CAST(len(t.tk) AS BIGINT) AS n_tokens,
           COALESCE(c.n_removed, 0) AS n_removed,
           md5(list_aggregate(
                 list_transform(
                   list_filter(range(1, len(t.tk) + 1),
                               p -> NOT list_contains(COALESCE(c.ps, []), p)),
                   p -> t.tk[p]),
                 'string_agg', ' ')) AS clean_hash
    FROM t LEFT JOIN c ON t.doc_id = c.doc_id
    ORDER BY t.doc_id
    """,
)
def q253_intradoc_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = _SPAN_N
    t = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("tk")
    )
    g = t.select(
        "doc_id",
        F.explode(
            # sequence(1, 0) DESCENDS in Spark, so guard short docs with
            # an explicit empty array instead of clamping the endpoint
            F.expr(
                f"if(size(tk) >= {n},"
                f" transform(sequence(1, size(tk) - {n - 1}),"
                f"   i -> struct(i AS i, concat_ws(' ', slice(tk, i, {n})) AS gram)),"
                " array())"
            )
        ).alias("e"),
    ).select("doc_id", F.col("e.i").alias("i"), F.col("e.gram").alias("gram"))
    # r12: "every occurrence after the first" needs only each (doc,
    # gram)'s min start — a hash AGGREGATE, not the r11 row_number
    # window (which paid a sort of the full exploded gram table on top
    # of the same exchange); duplicate starts are the collected starts
    # minus the min (starts are distinct positions, so the min occurs
    # once). The per-position dedup then rides the per-doc collect_set
    # directly instead of a separate distinct exchange (3 exchanges + 1
    # sort -> 2 exchanges). Values identical: rn>1 ⟺ i != min(i), and
    # the output only tests membership in ps, so set order is free.
    # Local wall is FLAT (interleaved A/B min 3.10 new vs 3.13 old —
    # the removed sort/exchange overlap other stages at sf0.1); kept for
    # the at-scale plan: a sort of the full exploded gram stream is
    # O(n log n) in corpus size, the hash aggregate is O(n).
    dup = (
        g.groupBy("doc_id", "gram")
        .agg(F.min("i").alias("i0"), F.collect_list("i").alias("occ"))
        .select(
            "doc_id",
            F.explode(F.expr("filter(occ, x -> x != i0)")).alias("i"),
        )
    )
    c = (
        dup.select(
            "doc_id", F.explode(F.expr(f"sequence(i, i + {n - 1})")).alias("p")
        )
        .groupBy("doc_id")
        .agg(F.collect_set("p").alias("ps"))
        .select("doc_id", F.size("ps").cast("bigint").alias("n_removed"), "ps")
    )
    cleaned = F.expr(
        "transform(filter(sequence(1, size(tk)),"
        " p -> NOT array_contains(coalesce(ps, array()), p)),"
        " p -> element_at(tk, p))"
    )
    return (
        t.join(c, "doc_id", "left")
        .select(
            "doc_id",
            F.size("tk").cast("bigint").alias("n_tokens"),
            F.coalesce(F.col("n_removed"), F.lit(0)).cast("bigint").alias("n_removed"),
            F.md5(F.encode(F.concat_ws(" ", cleaned), "UTF-8")).alias("clean_hash"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# q261 — temperature-based source mixing (the multinomial reweighting of
# XLM-R / mT5: sample source s with probability p_s^alpha / sum_t
# p_t^alpha, alpha < 1 flattening the mix so long-tail sources are
# up-sampled): per source, the raw char share p_s (exact BIGINT char
# totals), the temperature-adjusted mix weight q_s, and the resulting
# boost q_s/p_s. One shuffle on source; the normalizer is a 1-row
# aggregate whose p^alpha terms LEFT-FOLD in source order (the repo's
# order-independent float protocol), then broadcast back — at any corpus
# size the non-scan work is |sources| rows.
# ---------------------------------------------------------------------------
_MIX_ALPHA = 0.7


@register(
    "q261_mix_temperature",
    oracle=f"""
    WITH s AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS chars
      FROM documents GROUP BY source),
    tot AS (SELECT CAST(SUM(chars) AS BIGINT) AS total FROM s),
    p AS (SELECT s.source, s.n_docs, s.chars,
                 CAST(s.chars AS DOUBLE) / CAST(tot.total AS DOUBLE) AS share
          FROM s CROSS JOIN tot),
    z AS (SELECT list_reduce(list_prepend(0.0, list(pow(share, {_MIX_ALPHA!r}) ORDER BY source)),
                             (x, y) -> x + y) AS norm
          FROM p)
    SELECT p.source, p.n_docs,
           ROUND(p.share, 6) AS share,
           ROUND(pow(p.share, {_MIX_ALPHA!r}) / z.norm, 6) AS mix_weight,
           ROUND((pow(p.share, {_MIX_ALPHA!r}) / z.norm) / p.share, 4) AS boost
    FROM p CROSS JOIN z
    ORDER BY p.source
    """,
)
def q261_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = _MIX_ALPHA
    docs = load_table(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("chars"),
    )
    tot = s.agg(F.sum("chars").cast("bigint").alias("total"))
    p = s.crossJoin(F.broadcast(tot)).withColumn(
        "share", F.col("chars").cast("double") / F.col("total").cast("double")
    )
    z = p.agg(
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("source", F.pow("share", F.lit(a)).alias("pa")))),
                lambda st: st["pa"],
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ).alias("norm")
    )
    q = F.pow("share", F.lit(a)) / F.col("norm")
    return (
        p.crossJoin(F.broadcast(z))
        .select(
            "source",
            "n_docs",
            F.round("share", 6).alias("share"),
            F.round(q, 6).alias("mix_weight"),
            F.round(q / F.col("share"), 4).alias("boost"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q263 — CROSS-document duplicated-span removal (RefinedWeb §3.2 /
# Lee et al. 2022 exact-substring cleanup; round-5 VERDICT "missing" #1):
# any 5-token span occurring in >= 3 distinct documents is boilerplate
# (mirrored templates/footers — on this corpus the planted duplicate
# groups) and is excised from EVERY document; q110 *audits* exactly this
# population, q263 *removes* it. Coverage is per token position, so
# overlapping boilerplate windows merge into excised intervals for free.
#
# Shape (100 TB): scan-local n-gram explode keyed by xxhash64 (8-byte
# shuffle/broadcast keys — the gram string never leaves the mapper),
# ONE shuffle to build the boilerplate set (small by construction ->
# broadcast back), coverage + per-doc groupBy on doc_id (skew-free),
# array math for the reconstruction. The corpus is never shuffled
# whole; nothing all-pairs. Output carries an md5 of the cleaned text
# so the oracle hash-checks the reconstruction exactly (the q253
# protocol).
#
# _XDOC_CAP is the adversarial-corpus work cap (operator SPEC, round-7
# VERDICT #6): per boilerplate gram only the 20 earliest (doc, pos)
# occurrences are excised — deterministic (lexicographic), mirrored in
# the oracle as ROW_NUMBER() <= 20, enforced skew-shaped (within-cap
# grams bypass the rank; only over-cap grams' rows pay a window — the
# AQE-skew-split analog, see operators/textindex.py). Measured honesty
# note (round 8): on the replicated-sf1 corpus the super-linear ratio
# comes from the gram POPULATION crossing min_docs (550 -> 237,849
# grams), not per-gram occurrence skew (p50 = p90 = 10 occurrences,
# max 40), so the cap binds on only 0.25% of occurrences there — its
# job is the corpus the sweep can't build (one template repeated
# millions of times), while the population-driven sf1 tail is true
# output growth.
# ---------------------------------------------------------------------------
_XDOC_N = 5
_XDOC_K = 3
_XDOC_CAP = 20


@register(
    "q263_crossdoc_span_excise",
    oracle=f"""
    WITH t AS (SELECT doc_id, {TOKS_SQL} AS tk FROM documents),
    g AS (SELECT doc_id, i, array_to_string(tk[i:i + {_XDOC_N - 1}], ' ') AS gram
          FROM t, UNNEST(range(1, len(tk) - {_XDOC_N - 2})) AS u(i)),
    boiler AS (SELECT gram FROM g GROUP BY gram
               HAVING COUNT(DISTINCT doc_id) >= {_XDOC_K}),
    hits AS (SELECT g.doc_id, g.i,
                    ROW_NUMBER() OVER (PARTITION BY g.gram
                                       ORDER BY g.doc_id, g.i) AS rn
             FROM g JOIN boiler USING (gram)),
    cov AS (SELECT DISTINCT hits.doc_id, u.p
            FROM hits, UNNEST(range(hits.i, hits.i + {_XDOC_N})) AS u(p)
            WHERE hits.rn <= {_XDOC_CAP}),
    c AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_removed, list(p) AS ps
          FROM cov GROUP BY doc_id)
    SELECT t.doc_id,
           CAST(len(t.tk) AS BIGINT) AS n_tokens,
           COALESCE(c.n_removed, 0) AS n_removed,
           -- COALESCE: a FULLY excised doc (every position covered —
           -- expected here, unlike q253) string_aggs an empty list to
           -- NULL in DuckDB; Spark's concat_ws gives ''. Hash ''.
           md5(COALESCE(list_aggregate(
                 list_transform(
                   list_filter(range(1, len(t.tk) + 1),
                               p -> NOT list_contains(COALESCE(c.ps, []), p)),
                   p -> t.tk[p]),
                 'string_agg', ' '), '')) AS clean_hash
    FROM t LEFT JOIN c ON t.doc_id = c.doc_id
    ORDER BY t.doc_id
    """,
)
def q263_crossdoc_span_excise(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textindex import cross_doc_span_excise

    docs = load_table(spark, sf_dir, "documents")
    out = cross_doc_span_excise(
        docs, "doc_id", "text", n=_XDOC_N, min_docs=_XDOC_K,
        materialize=True, max_excised_per_gram=_XDOC_CAP,
    )
    return out.select(
        "doc_id",
        "n_tokens",
        "n_removed",
        F.md5(F.encode(F.concat_ws(" ", "clean_tokens"), "UTF-8")).alias("clean_hash"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# q267 — Gopher repetition-quality rules (Rae et al. 2021, Table A1):
# the two standard within-doc repetition signals a pre-training filter
# computes per document —
#   * top-2-gram character fraction: chars covered by occurrences of
#     the doc's MOST FREQUENT bigram / total token chars (threshold
#     0.20; ties break to the lexicographically smallest bigram);
#   * duplicated-5-gram character fraction: chars of token positions
#     covered by any 5-gram occurring >= 2 times in the doc — ALL
#     occurrences count, unlike q253's keep-first excision (threshold
#     0.15).
# Char accounting is exact integers (token lengths; gram chars =
# len(gram) - (n-1) separators); fractions round once at the end.
#
# Shape (100 TB): both signals are per-doc — n-gram explodes are
# scan-local and every aggregation keys on (doc, gram) or doc, so the
# whole query is two fine-grained shuffles + one doc-keyed reduce; no
# cross-doc state at all (contrast q110/q263, the cross-doc passes).
# ---------------------------------------------------------------------------
_GOPHER_TOP2 = 0.20
_GOPHER_DUP5 = 0.15


@register(
    "q267_gopher_repetition",
    oracle=f"""
    WITH t AS (SELECT doc_id, {TOKS_SQL} AS tk FROM documents),
    chars AS (SELECT doc_id, len(tk) AS n_tokens,
                     CAST(len(array_to_string(tk, '')) AS BIGINT) AS n_chars
              FROM t),
    g2 AS (SELECT doc_id, array_to_string(tk[i:i + 1], ' ') AS gram
           FROM t, UNNEST(range(1, len(tk))) AS u(i)),
    c2 AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM g2 GROUP BY doc_id, gram),
    top2 AS (SELECT doc_id, gram, cnt FROM (
               SELECT doc_id, gram, cnt, ROW_NUMBER() OVER (
                 PARTITION BY doc_id ORDER BY cnt DESC, gram ASC) AS rn
               FROM c2) WHERE rn = 1),
    g5 AS (SELECT doc_id, i, array_to_string(tk[i:i + 4], ' ') AS gram
           FROM t, UNNEST(range(1, len(tk) - 3)) AS u(i)),
    d5 AS (SELECT doc_id, gram FROM g5 GROUP BY doc_id, gram HAVING COUNT(*) >= 2),
    cov AS (SELECT DISTINCT g5.doc_id, u.p
            FROM g5 JOIN d5 USING (doc_id, gram),
                 UNNEST(range(g5.i, g5.i + 5)) AS u(p)),
    covch AS (SELECT cov.doc_id, CAST(SUM(len(t.tk[cov.p])) AS BIGINT) AS dup_chars
              FROM cov JOIN t USING (doc_id) GROUP BY cov.doc_id)
    SELECT c.doc_id,
           CAST(c.n_tokens AS BIGINT) AS n_tokens,
           ROUND(CAST(COALESCE(top2.cnt, 0) * (len(COALESCE(top2.gram, '')) - 1)
                      AS DOUBLE) / c.n_chars, 4) AS top2_frac,
           ROUND(CAST(COALESCE(covch.dup_chars, 0) AS DOUBLE) / c.n_chars, 4)
             AS dup5_frac,
           (CAST(COALESCE(top2.cnt, 0) * (len(COALESCE(top2.gram, '')) - 1)
                 AS DOUBLE) / c.n_chars <= {_GOPHER_TOP2}
            AND CAST(COALESCE(covch.dup_chars, 0) AS DOUBLE) / c.n_chars
                <= {_GOPHER_DUP5}) AS keep
    FROM chars c
      LEFT JOIN top2 ON c.doc_id = top2.doc_id
      LEFT JOIN covch ON c.doc_id = covch.doc_id
    WHERE c.n_chars > 0
    ORDER BY c.doc_id
    """,
)
def q267_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    # four branches (char totals, bigram, 5-gram, coverage join) consume
    # the tokenized frame — localCheckpoint once (q106/q237 pattern)
    t = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("tk")
    ).localCheckpoint(eager=True)
    chars = t.select(
        "doc_id",
        F.size("tk").cast("bigint").alias("n_tokens"),
        F.length(F.concat_ws("", "tk")).cast("bigint").alias("n_chars"),
    )
    g2 = t.select(
        "doc_id",
        F.explode(
            F.expr(
                "if(size(tk) >= 2,"
                " transform(sequence(1, size(tk) - 1),"
                "   i -> concat_ws(' ', slice(tk, i, 2))),"
                " array())"
            )
        ).alias("gram"),
    )
    # r12 NEGATIVE RESULT (measured and reverted): replacing this window
    # with a per-doc min(struct(-cnt, gram)) aggregate does NOT remove
    # the sort — struct min is not hash-aggregatable, so it compiles to
    # SortAggregate + the same two Sorts the WindowGroupLimit pair costs
    # (verified in the committed plan dumps), and interleaved A/B was
    # flat (4.36/4.27 min). The window form is kept.
    w = Window.partitionBy("doc_id").orderBy(F.desc("cnt"), F.asc("gram"))
    top2 = (
        g2.groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("gram").alias("t2gram"), F.col("cnt").alias("t2cnt"))
    )
    g5 = t.select(
        "doc_id",
        F.explode(
            F.expr(
                "if(size(tk) >= 5,"
                " transform(sequence(1, size(tk) - 4),"
                "   i -> struct(i AS i, concat_ws(' ', slice(tk, i, 5)) AS gram)),"
                " array())"
            )
        ).alias("e"),
    ).select("doc_id", F.col("e.i").alias("i"), F.col("e.gram").alias("gram"))
    d5 = (
        g5.groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 2)
        .select("doc_id", "gram")
    )
    # shuffle_hash hint (round-10 sf10 audit finding): d5 is doc-scaled
    # (duplicated 5-grams per doc), but Catalyst's ESTIMATED post-
    # filter stats undersize it, so the initial plan picked a broadcast
    # that OOM'd the driver at sf10 ("Not enough memory to build and
    # broadcast") — AQE can promote to broadcast from accurate runtime
    # sizes but cannot demote an initial-plan broadcast. Never
    # broadcast a frame that grows with the corpus.
    # r12 NEGATIVE RESULT (measured and reverted): folding the
    # per-position dedup into a per-doc collect_set + an interpreted
    # aggregate() over the cover set measured clearly SLOWER in
    # interleaved A/B (min 4.57 vs 3.42 on this template-heavy fixture,
    # where cover sets span most positions of duplicated docs) — the
    # JVM-codegen distinct + sum beats a per-doc interpreted lambda
    # fold. Kept: distinct + join-back + groupBy.
    cov = (
        g5.join(d5.hint("shuffle_hash"), ["doc_id", "gram"])
        .select("doc_id", F.explode(F.expr("sequence(i, i + 4)")).alias("p"))
        .distinct()
    )
    covch = (
        cov.join(t, "doc_id")
        .select("doc_id", F.length(F.expr("element_at(tk, p)")).alias("ch"))
        .groupBy("doc_id")
        .agg(F.sum("ch").cast("bigint").alias("dup_chars"))
    )
    top2_chars = F.coalesce(F.col("t2cnt"), F.lit(0)) * (
        F.length(F.coalesce(F.col("t2gram"), F.lit(""))) - F.lit(1)
    )
    top2_frac = top2_chars.cast("double") / F.col("n_chars")
    dup5_frac = (
        F.coalesce(F.col("dup_chars"), F.lit(0)).cast("double") / F.col("n_chars")
    )
    # same rationale: top2/covch are one-row-per-doc frames — they scale
    # with the corpus, so the doc_id joins must shuffle, not broadcast
    return (
        chars.join(top2.hint("shuffle_hash"), "doc_id", "left")
        .join(covch.hint("shuffle_hash"), "doc_id", "left")
        .filter(F.col("n_chars") > 0)
        .select(
            "doc_id",
            "n_tokens",
            F.round(top2_frac, 4).alias("top2_frac"),
            F.round(dup5_frac, 4).alias("dup5_frac"),
            ((top2_frac <= _GOPHER_TOP2) & (dup5_frac <= _GOPHER_DUP5)).alias("keep"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# q268 — PII scrubbing (the redaction pass every production corpus
# pipeline runs before training): emails and phone numbers are replaced
# with typed placeholder tokens; the query reports per-doc redaction
# counts and an md5 of the scrubbed text so the oracle hash-checks the
# rewrite exactly. The synthetic corpus carries no PII, so deterministic
# PII is INJECTED from doc_id first (the q107 URL-injection protocol —
# the oracle derives the identical text, so the scrubber is provably
# exercised; patterns are conservative char-classes that parse
# identically under Java regex and RE2).
#
# Shape (100 TB): pure per-row column math — regexp_extract_all +
# nested regexp_replace, zero shuffles beyond the output sort; the scan
# stays in whole-stage codegen.
# ---------------------------------------------------------------------------
_PII_EMAIL = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z][a-z]+"
_PII_PHONE = "\\+1-555-[0-9][0-9][0-9][0-9]"

_PII_INJECT_SQL = """
    text || CASE
      WHEN doc_id % 4 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR)
           || '@mail' || CAST(doc_id % 7 AS VARCHAR) || '.example now'
      WHEN doc_id % 4 = 1 THEN ' call +1-555-'
           || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' today'
      WHEN doc_id % 4 = 2 THEN ' from user' || CAST(doc_id AS VARCHAR)
           || '@mail' || CAST(doc_id % 7 AS VARCHAR) || '.example or +1-555-'
           || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
      ELSE ''
    END
"""


def _pii_inject() -> F.Column:
    d = F.col("doc_id")
    email = F.concat(
        F.lit(" contact user"), d.cast("string"), F.lit("@mail"),
        (d % 7).cast("string"), F.lit(".example now"),
    )
    phone = F.concat(
        F.lit(" call +1-555-"),
        F.lpad((d % 10000).cast("string"), 4, "0"), F.lit(" today"),
    )
    both = F.concat(
        F.lit(" from user"), d.cast("string"), F.lit("@mail"),
        (d % 7).cast("string"), F.lit(".example or +1-555-"),
        F.lpad((d % 10000).cast("string"), 4, "0"),
    )
    return F.concat(
        F.col("text"),
        F.when(d % 4 == 0, email)
        .when(d % 4 == 1, phone)
        .when(d % 4 == 2, both)
        .otherwise(F.lit("")),
    )


@register(
    "q268_pii_scrub",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_PII_INJECT_SQL} AS txt FROM documents)
    SELECT doc_id,
           CAST(len(regexp_extract_all(txt, '{_PII_EMAIL}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(txt, '{_PII_PHONE}')) AS BIGINT) AS n_phones,
           md5(regexp_replace(regexp_replace(txt, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                              '{_PII_PHONE}', '<PHONE>', 'g')) AS clean_hash
    FROM t ORDER BY doc_id
    """,
)
def q268_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", _pii_inject().alias("txt")
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace("txt", _PII_EMAIL, "<EMAIL>"), _PII_PHONE, "<PHONE>"
    )
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("txt", F.lit(_PII_EMAIL), F.lit(0)))
        .cast("bigint")
        .alias("n_emails"),
        F.size(F.regexp_extract_all("txt", F.lit(_PII_PHONE), F.lit(0)))
        .cast("bigint")
        .alias("n_phones"),
        F.md5(F.encode(scrubbed, "UTF-8")).alias("clean_hash"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# q269 — cross-document EXACT-SUBSTRING DEDUP, keep-first (Lee et al.
# 2022 semantic — the ownership-preserving complement of q263's
# boilerplate excision): each 5-gram span duplicated across >= 3 docs
# keeps ONE canonical occurrence — the globally smallest (doc,
# position) — and every other occurrence is excised. Same engine
# operator (cross_doc_span_excise(keep_first=True)), same interval-merge
# reconstruction; the oracle ranks occurrences per gram and excises
# rn > 1.
# ---------------------------------------------------------------------------


@register(
    "q269_crossdoc_keep_first",
    oracle=f"""
    WITH t AS (SELECT doc_id, {TOKS_SQL} AS tk FROM documents),
    g AS (SELECT doc_id, i, array_to_string(tk[i:i + {_XDOC_N - 1}], ' ') AS gram
          FROM t, UNNEST(range(1, len(tk) - {_XDOC_N - 2})) AS u(i)),
    b AS (SELECT gram FROM g GROUP BY gram
          HAVING COUNT(DISTINCT doc_id) >= {_XDOC_K}),
    hits AS (SELECT g.doc_id, g.i,
                    ROW_NUMBER() OVER (PARTITION BY g.gram
                                       ORDER BY g.doc_id, g.i) AS rn
             FROM g JOIN b USING (gram)),
    cov AS (SELECT DISTINCT hits.doc_id, u.p
            FROM hits, UNNEST(range(hits.i, hits.i + {_XDOC_N})) AS u(p)
            WHERE hits.rn > 1),
    c AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_removed, list(p) AS ps
          FROM cov GROUP BY doc_id)
    SELECT t.doc_id,
           CAST(len(t.tk) AS BIGINT) AS n_tokens,
           COALESCE(c.n_removed, 0) AS n_removed,
           md5(COALESCE(list_aggregate(
                 list_transform(
                   list_filter(range(1, len(t.tk) + 1),
                               p -> NOT list_contains(COALESCE(c.ps, []), p)),
                   p -> t.tk[p]),
                 'string_agg', ' '), '')) AS clean_hash
    FROM t LEFT JOIN c ON t.doc_id = c.doc_id
    ORDER BY t.doc_id
    """,
)
def q269_crossdoc_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textindex import cross_doc_span_excise

    docs = load_table(spark, sf_dir, "documents")
    out = cross_doc_span_excise(
        docs, "doc_id", "text", n=_XDOC_N, min_docs=_XDOC_K,
        materialize=True, keep_first=True,
    )
    return out.select(
        "doc_id",
        "n_tokens",
        "n_removed",
        F.md5(F.encode(F.concat_ws(" ", "clean_tokens"), "UTF-8")).alias("clean_hash"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# q274 — overlapping token chunking (the RAG / long-context prep step:
# split every document into fixed-size token windows with overlap so
# retrieval units respect a model's context budget): chunk k of a doc
# covers tokens [1 + k*stride, ... + size), k while the start is in
# range; trailing chunks may be short, empty docs yield one empty chunk
# (tokenizer contract: splitting '' gives one empty token). Each chunk
# carries its ordinal, token count, and an md5 of the joined text — the
# downstream embedding/dedup key.
#
# Shape (100 TB): pure scan-local array math — one transform+explode per
# doc, zero shuffles beyond the output sort; chunk count per doc is
# ceil(len/stride), so output size is len/stride × corpus — linear.
# ---------------------------------------------------------------------------
_CHUNK_SIZE = 64
_CHUNK_STRIDE = 48


@register(
    "q274_token_chunking",
    oracle=f"""
    WITH t AS (SELECT doc_id, {TOKS_SQL} AS tk FROM documents),
    c AS (
      SELECT doc_id, u.k AS chunk_idx,
             tk[1 + u.k * {_CHUNK_STRIDE} :
                least(1 + u.k * {_CHUNK_STRIDE} + {_CHUNK_SIZE - 1}, len(tk))] AS ck
      FROM t, UNNEST(range(0, greatest((len(tk) - 2) // {_CHUNK_STRIDE}, 0) + 1)) AS u(k))
    SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
           CAST(len(ck) AS BIGINT) AS n_tokens,
           md5(array_to_string(ck, ' ')) AS chunk_hash
    FROM c ORDER BY doc_id, chunk_idx
    """,
)
def q274_token_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("tk")
    )
    # starts: 1 + k*stride for k = 0 .. (len-2) div stride (every start
    # <= len; a doc of len L gets ceil((L-1)/stride)+... == the oracle's
    # (L-2)//stride + 1 chunks, 1 chunk for L <= 1)
    chunks = F.expr(
        f"transform(sequence(0, greatest((size(tk) - 2) div {_CHUNK_STRIDE}, 0)),"
        f" k -> struct(k AS k, slice(tk, 1 + k * {_CHUNK_STRIDE}, {_CHUNK_SIZE}) AS ck))"
    )
    return (
        t.select("doc_id", F.explode(chunks).alias("e"))
        .select(
            "doc_id",
            F.col("e.k").cast("bigint").alias("chunk_idx"),
            F.size("e.ck").cast("bigint").alias("n_tokens"),
            F.md5(F.encode(F.concat_ws(" ", "e.ck"), "UTF-8")).alias("chunk_hash"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


# ---------------------------------------------------------------------------
# q275 — DSIR importance resampling (Xie et al. 2023, "Data Selection
# for Language Models via Importance Resampling"): score every raw
# document by how target-like its hashed-unigram profile is, then keep
# the top-K. Features are token hash buckets (first 2 md5 hex digits ->
# 256 buckets); the target distribution is the English slice of the
# corpus, the raw distribution is the whole corpus; bucket log-ratios
# use add-1 smoothing. Per-token log-ratio is rounded to DECIMAL(18,6)
# BEFORE summing (the q106 discipline) so the per-doc score is an exact,
# order-independent decimal and the top-K ranking is bit-stable across
# engines.
#
# Shape (100 TB): one explode -> 256-row distribution aggregate (both
# target and raw counts in a single conditional pass), broadcast the
# 256-row log-ratio table back onto the token stream, one (doc_id)
# aggregate, TakeOrdered top-K. Two shuffles total, nothing driver-side;
# the smoothing is computed as ln(t+1)-ln(T+B) differences (no big
# integer products), so counts up to 1e18 tokens stay in range.
# ---------------------------------------------------------------------------
_DSIR_B = 256
_DSIR_K = 100


def dsir_scores(
    docs: DataFrame, target: F.Column, n_buckets: int = _DSIR_B
) -> DataFrame:
    """Per-doc DSIR importance score over hashed-unigram buckets.

    ``docs`` must carry ``doc_id`` and a token array ``tk``; ``target``
    is the boolean column marking target-distribution rows. Returns
    (doc_id, n_tokens, sw) where ``sw`` is the exact DECIMAL(18,6) sum
    of per-token smoothed log-ratios (reusable core of q275; fuzzed
    against a brute-force scorer in tests/test_fuzz_differential.py).
    """
    bk = docs.select(
        "doc_id", target.alias("is_t"), F.explode("tk").alias("token")
    ).select(
        "doc_id",
        "is_t",
        F.conv(F.substring(F.md5(F.encode("token", "UTF-8")), 1, 2), 16, 10)
        .cast("int")
        .alias("b"),
    )
    dist = bk.groupBy("b").agg(
        F.count(F.lit(1)).alias("r_cnt"),
        F.count(F.when(F.col("is_t"), 1)).alias("t_cnt"),
    )
    w = Window.partitionBy()
    lr = (
        dist.withColumn("rtot", F.sum("r_cnt").over(w))
        .withColumn("ttot", F.sum("t_cnt").over(w))
        .select(
            "b",
            F.round(
                (
                    F.log((F.col("t_cnt") + 1).cast("double"))
                    - F.log((F.col("ttot") + n_buckets).cast("double"))
                )
                - (
                    F.log((F.col("r_cnt") + 1).cast("double"))
                    - F.log((F.col("rtot") + n_buckets).cast("double"))
                ),
                6,
            )
            .cast("decimal(18,6)")
            .alias("lr"),
        )
    )
    return (
        bk.join(F.broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum("lr").alias("sw"),
        )
    )


@register(
    "q275_dsir_resample",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, unnest({TOKS_SQL}) AS token FROM documents),
    bk AS (SELECT doc_id, lang, {md5_hex_int_sql("token", 2)} AS b FROM t),
    dist AS (SELECT b, COUNT(*) AS r_cnt,
                    COUNT(*) FILTER (WHERE lang = 'en') AS t_cnt
             FROM bk GROUP BY b),
    tot AS (SELECT b, r_cnt, t_cnt,
                   SUM(r_cnt) OVER () AS rtot, SUM(t_cnt) OVER () AS ttot
            FROM dist),
    lr AS (SELECT b,
                  CAST(ROUND(
                    (ln(CAST(t_cnt + 1 AS DOUBLE)) - ln(CAST(ttot + {_DSIR_B} AS DOUBLE)))
                    - (ln(CAST(r_cnt + 1 AS DOUBLE)) - ln(CAST(rtot + {_DSIR_B} AS DOUBLE))),
                    6) AS DECIMAL(18,6)) AS lr
           FROM tot),
    s AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens, SUM(lr) AS sw
          FROM bk JOIN lr USING (b) GROUP BY doc_id),
    top AS (SELECT doc_id, n_tokens, sw,
                   ROW_NUMBER() OVER (ORDER BY sw DESC, doc_id) AS rank
            FROM s)
    SELECT CAST(top.rank AS BIGINT) AS rank, top.doc_id, d.lang, top.n_tokens,
           ROUND(CAST(top.sw AS DOUBLE), 4) AS logw
    FROM top JOIN documents d ON top.doc_id = d.doc_id
    WHERE top.rank <= {_DSIR_K}
    ORDER BY rank
    """,
)
def q275_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", tokens("text").alias("tk")
    ).localCheckpoint(eager=True)
    s = dsir_scores(docs, F.col("lang") == "en")
    top = s.orderBy(F.desc("sw"), "doc_id").limit(_DSIR_K)
    ranked = top.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.desc("sw"), "doc_id")).cast("bigint"),
    )
    return (
        ranked.join(docs.select("doc_id", "lang"), "doc_id")
        .select(
            "rank",
            "doc_id",
            "lang",
            "n_tokens",
            F.round(F.col("sw").cast("double"), 4).alias("logw"),
        )
        .orderBy("rank")
    )


# ---------------------------------------------------------------------------
# q281 — covariate-matched control sampling (the ablation/experiment
# prep step: to measure a treatment source's effect you need a control
# set with the SAME covariate profile, not a uniform draw): treatment =
# docs from source 'src1'; controls are drawn from the rest of the
# corpus within each length stratum (n_chars div 100) — per stratum,
# exactly min(n_treat, n_pool) controls, chosen by deterministic md5
# rank (RNG-free, partition-order-proof). Output is one row per
# stratum: treatment count, control count, and an md5 over the sorted
# selected-control ids (the manifest fingerprint a downstream join
# would key on).
#
# Shape (100 TB): stratum counts are one partial-agg shuffle; control
# ranking is a window PARTITIONED BY stratum (never global); the
# per-stratum quota join broadcasts the tiny stratum-count frame. No
# driver sampling state, no RNG skew.
# ---------------------------------------------------------------------------
_MATCH_TREAT_SRC = "src1"
_MATCH_BUCKET = 100


@register(
    "q281_matched_sampling",
    oracle=f"""
    WITH d AS (SELECT doc_id, source,
                      CAST(n_chars // {_MATCH_BUCKET} AS BIGINT) AS stratum
               FROM documents),
    t AS (SELECT stratum, CAST(COUNT(*) AS BIGINT) AS n_treat
          FROM d WHERE source = '{_MATCH_TREAT_SRC}' GROUP BY stratum),
    pool AS (SELECT stratum, doc_id,
                    ROW_NUMBER() OVER (PARTITION BY stratum
                      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
             FROM d WHERE source != '{_MATCH_TREAT_SRC}'),
    ctrl AS (SELECT p.stratum, p.doc_id
             FROM pool p JOIN t ON p.stratum = t.stratum
             WHERE p.rn <= t.n_treat)
    SELECT t.stratum, t.n_treat,
           CAST(COALESCE(COUNT(c.doc_id), 0) AS BIGINT) AS n_control,
           md5(COALESCE(string_agg(CAST(c.doc_id AS VARCHAR), ','
                 ORDER BY c.doc_id), '')) AS control_ids_hash
    FROM t LEFT JOIN ctrl c ON t.stratum = c.stratum
    GROUP BY t.stratum, t.n_treat
    ORDER BY t.stratum
    """,
)
def q281_matched_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.floor(F.col("n_chars") / _MATCH_BUCKET).cast("bigint").alias("stratum"),
    )
    t = (
        d.filter(F.col("source") == _MATCH_TREAT_SRC)
        .groupBy("stratum")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_treat"))
    )
    w = Window.partitionBy("stratum").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    pool = d.filter(F.col("source") != _MATCH_TREAT_SRC).withColumn(
        "rn", F.row_number().over(w)
    )
    ctrl = pool.join(F.broadcast(t), "stratum").filter(
        F.col("rn") <= F.col("n_treat")
    )
    picked = ctrl.groupBy("stratum").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_control"),
        F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
            )
        ).alias("control_ids_hash"),
    )
    return (
        t.join(picked, "stratum", "left")
        .select(
            "stratum",
            "n_treat",
            F.coalesce("n_control", F.lit(0).cast("bigint")).alias("n_control"),
            F.coalesce("control_ids_hash", F.md5(F.lit(""))).alias("control_ids_hash"),
        )
        .orderBy("stratum")
    )


# ---------------------------------------------------------------------------
# q284 — crawl novelty curve (the saturation metric that decides when
# more crawling stops paying: per ingestion batch, what fraction of its
# 5-gram occurrences were never seen in ANY earlier batch?). Batch =
# doc_id div 100 (ingestion order proxy); a gram's first-seen batch is
# min(batch) over its occurrences; a batch's novel occurrences are
# those of grams first seen in it. As a corpus saturates, novelty
# decays toward the boilerplate floor — the curve is how RefinedWeb-
# scale pipelines budget crawl depth.
#
# Shape (100 TB): shingle explode -> one (gram) aggregate carrying
# min-batch + per-batch occurrence counts in the same pass (explode the
# per-gram batch histogram back out), then one tiny (batch) aggregate.
# Never materializes a seen-set; the first-seen reduction IS the
# incremental-novelty join that a daily pipeline would run against a
# persisted gram->first_batch table (q99's incremental-dedup state
# pattern).
# ---------------------------------------------------------------------------
_NOV_N = 5
_NOV_BATCH = 100


@register(
    "q284_novelty_curve",
    oracle=f"""
    WITH t AS (SELECT doc_id, doc_id // {_NOV_BATCH} AS batch, {TOKS_SQL} AS tk
               FROM documents),
    g AS (SELECT batch, array_to_string(tk[i:i + {_NOV_N - 1}], ' ') AS gram
          FROM t, UNNEST(range(1, greatest(len(tk) - {_NOV_N - 2}, 2))) AS u(i)),
    per AS (SELECT gram, batch, COUNT(*) AS occ FROM g GROUP BY gram, batch),
    fs AS (SELECT gram, MIN(batch) OVER (PARTITION BY gram) AS first_batch,
                  batch, occ FROM per)
    SELECT CAST(batch AS BIGINT) AS batch,
           CAST(SUM(occ) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN batch = first_batch THEN occ ELSE 0 END) AS BIGINT)
             AS n_novel,
           ROUND(CAST(SUM(CASE WHEN batch = first_batch THEN occ ELSE 0 END) AS DOUBLE)
                 / SUM(occ), 4) AS novelty
    FROM fs GROUP BY batch ORDER BY batch
    """,
)
def q284_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_table(spark, sf_dir, "documents").select(
        # floor-div matches the oracle's // exactly (round-6 ADVICE:
        # float-div-then-cast truncates toward zero and loses precision
        # for very large ids)
        F.floor(F.col("doc_id") / _NOV_BATCH).cast("bigint").alias("batch"),
        tokens("text").alias("tk"),
    )
    g = t.select("batch", F.explode(word_shingles(F.col("tk"), _NOV_N)).alias("gram"))
    per = g.groupBy("gram", "batch").agg(F.count(F.lit(1)).alias("occ"))
    fs = per.withColumn(
        "first_batch", F.min("batch").over(Window.partitionBy("gram"))
    )
    novel = F.sum(F.when(F.col("batch") == F.col("first_batch"), F.col("occ")).otherwise(0))
    return (
        fs.groupBy("batch")
        .agg(
            F.sum("occ").cast("bigint").alias("n_grams"),
            novel.cast("bigint").alias("n_novel"),
            F.round(novel.cast("double") / F.sum("occ"), 4).alias("novelty"),
        )
        .orderBy("batch")
    )


# ---------------------------------------------------------------------------
# q273 — CCNet-style perplexity bucketing (Wenzek et al. 2020): per
# language, documents split into head / middle / tail TERCILES by LM
# perplexity — the standard quality stratification a multilingual corpus
# pipeline applies before mixing (head = lowest perplexity = cleanest).
# Perplexity is q184's add-one-smoothed bigram LM (same decimal-summed
# lp discipline); thresholds are RANK-EXACT terciles — rank within
# (lang) by (rounded ppl, doc_id), head = rank <= ceil(n/3), middle <=
# ceil(2n/3) — integer arithmetic on both engines, no percentile-
# function semantics to reconcile. Reports per (lang, bucket) counts and
# the bucket's perplexity range.
#
# Shape (100 TB): the bigram/count joins are q184's (key-partitioned,
# vocab 1-row broadcast); the tercile window shuffles once on lang (a
# handful of partitions at any scale — if a lang is a hot partition,
# rank via two-pass histogram instead; documented trade-off).
# ---------------------------------------------------------------------------
@register(
    "q273_ccnet_ppl_buckets",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, {TOKS_SQL} AS tk FROM documents),
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
              CROSS JOIN v),
    ppl AS (
      SELECT doc_id, ROUND(exp(-(CAST(SUM(lp) AS DOUBLE) / COUNT(*))), 4) AS p
      FROM terms GROUP BY doc_id),
    r AS (
      SELECT t.lang, ppl.p,
             ROW_NUMBER() OVER (PARTITION BY t.lang ORDER BY ppl.p, ppl.doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY t.lang) AS n
      FROM ppl JOIN t ON ppl.doc_id = t.doc_id),
    b AS (
      SELECT lang, p,
             CASE WHEN rn <= (n + 2) // 3 THEN 'head'
                  WHEN rn <= (2 * n + 2) // 3 THEN 'middle'
                  ELSE 'tail' END AS bucket
      FROM r)
    SELECT lang, bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
           MIN(p) AS min_ppl, MAX(p) AS max_ppl
    FROM b GROUP BY lang, bucket ORDER BY lang, bucket
    """,
)
def q273_ccnet_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", tokens(F.col("text")).alias("tk")
    )
    bg = (
        docs.filter(F.size("tk") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(slice(tk, 1, size(tk) - 1),"
                    " (x, i) -> struct(x AS a, tk[i+1] AS b))"
                )
            ).alias("p"),
        )
        .select("doc_id", F.col("p.a").alias("a"), F.col("p.b").alias("b"))
    )
    c2 = bg.groupBy("a", "b").agg(F.count(F.lit(1)).alias("n2"))
    c1 = bg.groupBy("a").agg(F.count(F.lit(1)).alias("n1"))
    v = docs.select(F.explode("tk").alias("t")).agg(F.countDistinct("t").alias("vocab"))
    terms = (
        bg.join(c2, ["a", "b"])
        .join(c1, "a")
        .crossJoin(F.broadcast(v))
        .select(
            "doc_id",
            F.round(
                F.log(
                    (F.col("n2").cast("double") + 1.0)
                    / (F.col("n1").cast("double") + F.col("vocab"))
                ),
                12,
            )
            .cast("decimal(20,12)")
            .alias("lp"),
        )
    )
    ppl = terms.groupBy("doc_id").agg(
        F.round(
            F.exp(-(F.sum("lp").cast("double") / F.count(F.lit(1)))), 4
        ).alias("p")
    )
    r = (
        ppl.join(docs.select("doc_id", "lang"), "doc_id")
        .withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("lang").orderBy("p", "doc_id")),
        )
        .withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("lang")))
    )
    b = r.select(
        "lang",
        "p",
        F.when(F.expr("rn <= (n + 2) div 3"), F.lit("head"))
        .when(F.expr("rn <= (2 * n + 2) div 3"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )
    return (
        b.groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("p").alias("min_ppl"),
            F.max("p").alias("max_ppl"),
        )
        .orderBy("lang", "bucket")
    )


# ---------------------------------------------------------------------------
# q357 — domain mixture reweighting (DoReMi-style multiplicative
# weights, LINEARIZED): each source's sampling weight starts at its
# corpus share w0 and is updated by 1 + eta * excess, where excess is
# the source's relative deviation of a per-doc signal (mean document
# length as the loss proxy) from the corpus mean; weights are floored
# at 0.2*w0 (no domain starves) and renormalized. The linear update
# replaces DoReMi's exp(eta·excess) so the arithmetic stays a single
# shared double expression on both engines (exp differs in the last
# ulp across libm implementations — the engine's determinism contract
# forbids it).
#
# Determinism: per-source raw weights ROUND(.,8) → DECIMAL(18,8)
# before the exact normalization sum.
#
# Shape (100 TB): one map-combinable shuffle keyed by source (20
# groups); the corpus totals and the normalizer are 1-row frames
# broadcast back — three tiny joins, zero full-data rescans.
# ---------------------------------------------------------------------------
_DR_ETA = 0.5
_DR_FLOOR = 0.2


@register(
    "q357_domain_reweight",
    oracle=f"""
    WITH per AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(n_chars AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
               AS proxy
      FROM documents GROUP BY source),
    tot AS (
      SELECT CAST(SUM(n) AS DOUBLE) AS n_total,
             {exact_sum_sql("proxy * n")} / SUM(n)
               AS proxy_all
      FROM per),
    raw AS (
      SELECT p.source, p.n,
             CAST(ROUND(
               CASE WHEN (p.n / t.n_total) * (1 + {_DR_ETA} * ((p.proxy - t.proxy_all) / t.proxy_all))
                         > {_DR_FLOOR} * (p.n / t.n_total)
                    THEN (p.n / t.n_total) * (1 + {_DR_ETA} * ((p.proxy - t.proxy_all) / t.proxy_all))
                    ELSE {_DR_FLOOR} * (p.n / t.n_total) END, 8)
               AS DECIMAL(18,8)) AS w_raw
      FROM per p, tot t)
    SELECT source, n AS n_docs,
           ROUND(CAST(w_raw AS DOUBLE), 8) AS w_raw,
           ROUND(CAST(w_raw AS DOUBLE)
                 / CAST((SELECT SUM(w_raw) FROM raw) AS DOUBLE), 6) AS weight
    FROM raw ORDER BY source
    """,
)
def q357_domain_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("source", "n_chars")
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
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
        F.lit(1) + F.lit(_DR_ETA) * ((F.col("proxy") - F.col("proxy_all")) / F.col("proxy_all"))
    )
    raw = per.crossJoin(F.broadcast(tot)).select(
        "source",
        "n",
        F.round(F.greatest(upd, F.lit(_DR_FLOOR) * w0), 8)
        .cast("decimal(18,8)")
        .alias("w_raw"),
    )
    norm = raw.agg(F.sum("w_raw").alias("w_sum"))
    return (
        raw.crossJoin(F.broadcast(norm))
        .select(
            "source",
            F.col("n").alias("n_docs"),
            F.round(F.col("w_raw").cast("double"), 8).alias("w_raw"),
            F.round(
                F.col("w_raw").cast("double") / F.col("w_sum").cast("double"), 6
            ).alias("weight"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q366 — dataset card (per-source corpus summary): the one-page table a
# dataset release ships — documents, token totals, language spread,
# EXACT-duplICATE rate (md5-of-text within source), and mean length.
# A composition capstone over the engine's dedup + textstats families.
#
# Determinism: counts and md5 groupings are exact; mean length via
# DECIMAL sum then one divide+round.
#
# Shape (100 TB): ONE pass computes tokens/langs/lengths (map-
# combinable, keyed by source); the dup rate needs its own (source,
# md5) collapse — a second map-combinable shuffle whose key includes
# the fingerprint, joined back at |sources| rows. No rescans beyond
# those two aggregations.
# ---------------------------------------------------------------------------
@register(
    "q366_dataset_card",
    oracle=f"""
    WITH t AS (
      SELECT source, lang, n_chars, md5(text) AS fp,
             len({TOKS_SQL})
               AS n_tok
      FROM documents),
    base AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
             CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
             ROUND(CAST(SUM(CAST(n_chars AS DECIMAL(18,2))) AS DOUBLE)
                   / COUNT(*), 4) AS avg_chars
      FROM t GROUP BY source),
    dup AS (
      SELECT source,
             CAST(SUM(c - 1) AS BIGINT) AS n_dup_docs
      FROM (SELECT source, fp, COUNT(*) AS c FROM t GROUP BY source, fp)
      GROUP BY source)
    SELECT b.source, b.n_docs, b.n_tokens, b.n_langs, b.avg_chars,
           d.n_dup_docs,
           ROUND(CAST(d.n_dup_docs AS DOUBLE) / b.n_docs, 6) AS dup_rate
    FROM base b JOIN dup d ON b.source = d.source
    ORDER BY b.source
    """,
)
def q366_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_table(spark, sf_dir, "documents").select(
        "source",
        "lang",
        "n_chars",
        F.md5("text").alias("fp"),
        F.size(tokens("text")).alias("n_tok"),
    )
    base = t.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        F.round(
            F.sum(F.col("n_chars").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1)),
            4,
        ).alias("avg_chars"),
    )
    dup = (
        t.groupBy("source", "fp")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("source")
        .agg(F.sum(F.col("c") - 1).cast("bigint").alias("n_dup_docs"))
    )
    return (
        base.join(F.broadcast(dup), "source")
        .select(
            "source", "n_docs", "n_tokens", "n_langs", "avg_chars", "n_dup_docs",
            F.round(F.col("n_dup_docs").cast("double") / F.col("n_docs"), 6).alias(
                "dup_rate"
            ),
        )
        .orderBy("source")
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
