"""Round-7 catalog extensions, batch 5+ — ES compound-query scoring
(`boosting`, `dis_max`) and LLM-training data transforms (fill-in-the-
middle split prep, matryoshka-embedding truncation audit).

Reference context: the reference delegates all querying to the full ES
stack (docker-compose.yml:32); `boosting` and `dis_max` are core ES
compound queries any user of that stack can issue. The FIM and
matryoshka entries extend the LLM-pipeline family (SURVEY §2.8) the
same way q302/q304 (batching, curriculum) do.

Determinism discipline (see catalog.py): integer term frequencies as
the score base (exact in binary), shared float literals for boosts,
md5-derived cut points (never engine-native hash/random), per-vector
double folds left-to-right (F.aggregate ↔ list_reduce) with
round→DECIMAL before any cross-row average.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import TOKS_SQL, md5_hex_int_sql, normalize_text, tokens
from ..sources.readers import load_table
from .catalog import register
from .similarity import _dot_sql as _dot_sql_ext4


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
# q317 — matryoshka-embedding truncation audit: for each truncation
# dimension d ∈ {4, 8, 16, 32, 64}, the average fraction of a vector's
# energy (sum of squared components) retained by its first d
# components, per label. The standard readiness check before serving
# truncated MRL embeddings: if energy@16 ≈ 1.0 the index can run at
# 1/4 the dimensionality.
#
# Determinism: per-vector double folds are left-to-right identical
# (F.aggregate ↔ list_reduce, same CAST placement as q37's cosine);
# each per-vector fraction is ROUND(.,6) → DECIMAL(18,6) before the
# cross-row average (exact decimal sum, then one division and round).
#
# Shape (100 TB): the dims explode is a 5× row-local expansion BEFORE
# the groupBy, so the plan is one map-combinable shuffle keyed by
# (label, d) — 5 × |labels| result rows regardless of input size.
# ---------------------------------------------------------------------------
_MRL_DIMS = (4, 8, 16, 32, 64)


def _ssq_sql(v: str, d: str) -> str:
    return (
        f"list_reduce(list_transform(range(1, {d}+1),"
        f" i -> CAST({v}[i] AS DOUBLE) * CAST({v}[i] AS DOUBLE)), (x, y) -> x + y)"
    )


@register(
    "q317_matryoshka_energy",
    oracle=f"""
    WITH x AS (
      SELECT label, CAST(d AS BIGINT) AS d,
             ROUND({_ssq_sql("embedding", "least(d, len(embedding))")}
                   / {_ssq_sql("embedding", "len(embedding)")}, 6) AS frac
      FROM embeddings, (SELECT UNNEST({list(_MRL_DIMS)!r}) AS d))
    SELECT label, d,
           CAST(COUNT(*) AS BIGINT) AS n_vec,
           ROUND(CAST(SUM(CAST(frac AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6)
             AS avg_energy_frac
    FROM x GROUP BY label, d ORDER BY label, d
    """,
)
def q317_matryoshka_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")

    def ssq(col: F.Column) -> F.Column:
        return F.aggregate(
            col,
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )

    x = (
        emb.withColumn("d", F.explode(F.array(*[F.lit(d) for d in _MRL_DIMS])))
        .withColumn("d", F.col("d").cast("bigint"))
        .select(
            "label",
            "d",
            # least() guard: for vectors shorter than d both engines now
            # agree on frac = 1.0 (without it Spark's slice clamps while
            # the oracle's out-of-range index yields NULL — see ADVICE r7)
            F.round(
                ssq(
                    F.slice(
                        "embedding",
                        F.lit(1),
                        F.least(F.col("d"), F.size("embedding")).cast("int"),
                    )
                )
                / ssq(F.slice("embedding", F.lit(1), F.size("embedding"))),
                6,
            ).alias("frac"),
        )
    )
    return (
        x.groupBy("label", "d")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vec"),
            F.round(
                F.sum(F.col("frac").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_energy_frac"),
        )
        .orderBy("label", "d")
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


# Positions via a single (x, i) pass over the token array (the q299
# idiom — never element_at over a sequence, which re-evaluates the
# split per index after projection collapse). DuckDB's lambda index is
# 1-based and Spark's 0-based, but q318 only uses position DIFFERENCES,
# so the constant offset cancels.
def _positions_sql(term: str) -> str:
    return (
        f"list_filter(list_transform(toks, (x, i) ->"
        f" CASE WHEN x = '{term}' THEN i ELSE -1 END), p -> p >= 0)"
    )


@register(
    "q318_intervals_query",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
    p AS (
      SELECT doc_id,
             {_positions_sql(_IV_TERMS[0])} AS pa,
             {_positions_sql(_IV_TERMS[1])} AS pb,
             {_positions_sql(_IV_TERMS[2])} AS pc
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
    from ..functions.plan import with_once

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("toks")
    )

    def positions(term: str) -> F.Column:
        return F.expr(
            f"filter(transform(toks, (x, i) -> IF(x = '{term}', i, -1)),"
            f" p -> p >= 0)"
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
            positions(_IV_TERMS[0]).alias("pa"),
            positions(_IV_TERMS[1]).alias("pb"),
            positions(_IV_TERMS[2]).alias("pc"),
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
# q320 — ES `matrix_stats` aggregation: pairwise covariance and Pearson
# correlation across three numeric fields (quantity, extendedprice,
# discount) per l_returnflag bucket.
#
# Determinism: all sums / sums-of-squares / cross-sums are exact DECIMAL
# folds (inputs have <= 3 fraction digits, products <= 6 — DECIMAL(38,6)
# holds the fold exactly at any SF); ONE cast to double per statistic
# and the identical expression tree on both engines:
#   cov = sxy/n - (sx/n)(sy/n);  corr = cov / sqrt(varx * vary).
#
# Shape (100 TB): one map-side-combinable groupBy carrying 10 decimal
# accumulators — a single shuffle of 3 rows per partition, then a
# row-local 3-pair unpivot. The canonical scan-bound metric agg.
# ---------------------------------------------------------------------------
_MS_FIELDS = ("l_quantity", "l_extendedprice", "l_discount")


def _ms_dec(f: str) -> str:
    return f"CAST({f} AS DECIMAL(18,3))"


@register(
    "q320_matrix_stats",
    oracle=f"""
    WITH s AS (
      SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
             SUM({_ms_dec("l_quantity")}) AS s0,
             SUM({_ms_dec("l_extendedprice")}) AS s1,
             SUM({_ms_dec("l_discount")}) AS s2,
             SUM({_ms_dec("l_quantity")} * {_ms_dec("l_quantity")}) AS s00,
             SUM({_ms_dec("l_extendedprice")} * {_ms_dec("l_extendedprice")}) AS s11,
             SUM({_ms_dec("l_discount")} * {_ms_dec("l_discount")}) AS s22,
             SUM({_ms_dec("l_quantity")} * {_ms_dec("l_extendedprice")}) AS s01,
             SUM({_ms_dec("l_quantity")} * {_ms_dec("l_discount")}) AS s02,
             SUM({_ms_dec("l_extendedprice")} * {_ms_dec("l_discount")}) AS s12
      FROM lineitem GROUP BY l_returnflag),
    pairs AS (
      SELECT l_returnflag, n, fx, fy, sx, sy, sxx, syy, sxy FROM (
        SELECT l_returnflag, n,
          '{_MS_FIELDS[0]}' AS fx, '{_MS_FIELDS[1]}' AS fy,
          s0 AS sx, s1 AS sy, s00 AS sxx, s11 AS syy, s01 AS sxy FROM s
        UNION ALL SELECT l_returnflag, n,
          '{_MS_FIELDS[0]}', '{_MS_FIELDS[2]}', s0, s2, s00, s22, s02 FROM s
        UNION ALL SELECT l_returnflag, n,
          '{_MS_FIELDS[1]}', '{_MS_FIELDS[2]}', s1, s2, s11, s22, s12 FROM s))
    SELECT l_returnflag, fx, fy, n,
           ROUND(CAST(sxy AS DOUBLE) / n
                 - (CAST(sx AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n), 6)
             AS covariance,
           ROUND((CAST(sxy AS DOUBLE) / n
                  - (CAST(sx AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n))
                 / sqrt((CAST(sxx AS DOUBLE) / n
                         - (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n))
                        * (CAST(syy AS DOUBLE) / n
                           - (CAST(sy AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n))),
                 6) AS correlation
    FROM pairs ORDER BY l_returnflag, fx, fy
    """,
)
def q320_matrix_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    d = {f: F.col(f).cast("decimal(18,3)") for f in _MS_FIELDS}
    q, p, disc = (d[f] for f in _MS_FIELDS)
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(q).alias("s0"), F.sum(p).alias("s1"), F.sum(disc).alias("s2"),
        F.sum(q * q).alias("s00"), F.sum(p * p).alias("s11"),
        F.sum(disc * disc).alias("s22"),
        F.sum(q * p).alias("s01"), F.sum(q * disc).alias("s02"),
        F.sum(p * disc).alias("s12"),
    )
    # Unpivot the 3 field pairs ROW-LOCALLY (explode over a struct
    # array) — a 3-branch union would re-execute the aggregate per
    # branch (3 full scans + shuffles at 100 TB); this is one.
    pair_specs = [
        (_MS_FIELDS[0], _MS_FIELDS[1], "s0", "s1", "s00", "s11", "s01"),
        (_MS_FIELDS[0], _MS_FIELDS[2], "s0", "s2", "s00", "s22", "s02"),
        (_MS_FIELDS[1], _MS_FIELDS[2], "s1", "s2", "s11", "s22", "s12"),
    ]
    pair_structs = F.array(
        *[
            F.struct(
                F.lit(fx).alias("fx"), F.lit(fy).alias("fy"),
                F.col(sx).alias("sx"), F.col(sy).alias("sy"),
                F.col(sxx).alias("sxx"), F.col(syy).alias("syy"),
                F.col(sxy).alias("sxy"),
            )
            for fx, fy, sx, sy, sxx, syy, sxy in pair_specs
        ]
    )
    pairs = s.select(
        "l_returnflag", "n", F.explode(pair_structs).alias("p")
    ).select("l_returnflag", "n", "p.*")
    n = F.col("n")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    cov = sxy / n - (sx / n) * (sy / n)
    varx = sxx / n - (sx / n) * (sx / n)
    vary = syy / n - (sy / n) * (sy / n)
    return pairs.select(
        "l_returnflag", "fx", "fy", "n",
        F.round(cov, 6).alias("covariance"),
        F.round(cov / F.sqrt(varx * vary), 6).alias("correlation"),
    ).orderBy("l_returnflag", "fx", "fy")


# ---------------------------------------------------------------------------
# q321 — binary (1-bit sign) embedding-quantization audit: hamming
# distance between sign patterns vs exact cosine, probe vec_id=0
# against the corpus. The readiness check before serving sign-quantized
# vectors: if hamming rank order tracks cosine rank order, a 64x
# smaller index (1 bit/dim) can serve first-stage retrieval.
#
# Determinism: hamming is an exact integer fold over sign mismatches;
# cosine is the shared left-to-right double fold (operators.similarity
# ↔ _cos_sql) rounded to 6.
#
# Shape (100 TB): 1-row broadcast probe (never a shuffled join) +
# scan-local folds + TakeOrdered(20) — the q37 brute-force shape; the
# LSH/IVF entries (q38/q82) are the sub-linear path.
# ---------------------------------------------------------------------------
_SQ_PROBE = 0


def _hamming_sql(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(range(1, len({a})+1),"
        f" i -> CASE WHEN ({a}[i] >= 0) != ({b}[i] >= 0) THEN 1 ELSE 0 END),"
        f" (x, y) -> x + y)"
    )


@register(
    "q321_sign_quantization",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
    q AS (SELECT v AS qv FROM e WHERE vec_id = {_SQ_PROBE})
    SELECT vec_id,
           CAST({_hamming_sql("v", "qv")} AS BIGINT) AS hamming,
           ROUND({_dot_sql_ext4("v", "qv")}
                 / (sqrt({_dot_sql_ext4("v", "v")}) * sqrt({_dot_sql_ext4("qv", "qv")})),
                 6) AS cos
    FROM e CROSS JOIN q
    WHERE vec_id != {_SQ_PROBE}
    ORDER BY hamming, vec_id LIMIT 20
    """,
)
def q321_sign_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import cosine

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").alias("v")
    )
    probe = F.broadcast(
        e.filter(F.col("vec_id") == _SQ_PROBE).select(F.col("v").alias("qv"))
    )
    mism = F.zip_with(
        "v", "qv",
        lambda x, y: ((x >= 0) != (y >= 0)).cast("int"),
    )
    hamming = F.aggregate(mism, F.lit(0), lambda acc, x: acc + x).cast("bigint")
    return (
        e.filter(F.col("vec_id") != _SQ_PROBE)
        .crossJoin(probe)
        .select(
            "vec_id",
            hamming.alias("hamming"),
            F.round(cosine(F.col("v"), F.col("qv")), 6).alias("cos"),
        )
        .orderBy("hamming", "vec_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q322 — ES `t_test` aggregation (heteroscedastic / Welch form): the
# two-sample t statistic between open ('O') and fulfilled ('F') orders
# on o_totalprice, per o_orderpriority bucket.
#   t = (m1 - m2) / sqrt(v1/n1 + v2/n2),  v = (ss - s*s/n) / (n - 1)
#
# Determinism: per-group sums and sums-of-squares are exact DECIMAL
# folds (price has 2 fraction digits, its square 4); ONE cast to double
# per accumulator and the identical expression tree on both engines.
#
# Shape (100 TB): a single map-side-combinable groupBy with six
# conditional accumulators — one shuffle of |priorities| rows.
# ---------------------------------------------------------------------------
@register(
    "q322_t_test",
    oracle="""
    WITH s AS (
      SELECT o_orderpriority,
             CAST(COUNT(*) FILTER (o_orderstatus = 'O') AS BIGINT) AS n1,
             CAST(COUNT(*) FILTER (o_orderstatus = 'F') AS BIGINT) AS n2,
             SUM(CAST(o_totalprice AS DECIMAL(38,4)))
               FILTER (o_orderstatus = 'O') AS s1,
             SUM(CAST(o_totalprice AS DECIMAL(38,4)))
               FILTER (o_orderstatus = 'F') AS s2,
             SUM(CAST(o_totalprice AS DECIMAL(38,4))
                 * CAST(o_totalprice AS DECIMAL(38,4)))
               FILTER (o_orderstatus = 'O') AS ss1,
             SUM(CAST(o_totalprice AS DECIMAL(38,4))
                 * CAST(o_totalprice AS DECIMAL(38,4)))
               FILTER (o_orderstatus = 'F') AS ss2
      FROM orders GROUP BY o_orderpriority)
    SELECT o_orderpriority, n1, n2,
           ROUND((CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2)
                 / sqrt(((CAST(ss1 AS DOUBLE)
                          - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n1)
                         / (n1 - 1)) / n1
                        + ((CAST(ss2 AS DOUBLE)
                            - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / n2)
                           / (n2 - 1)) / n2),
                 6) AS t_stat
    FROM s WHERE n1 >= 2 AND n2 >= 2
    ORDER BY o_orderpriority
    """,
)
def q322_t_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    dec = F.col("o_totalprice").cast("decimal(38,4)")

    def flt(status: str, expr: F.Column) -> F.Column:
        return F.sum(F.when(F.col("o_orderstatus") == status, expr))

    s = o.groupBy("o_orderpriority").agg(
        F.count(F.when(F.col("o_orderstatus") == "O", 1)).cast("bigint").alias("n1"),
        F.count(F.when(F.col("o_orderstatus") == "F", 1)).cast("bigint").alias("n2"),
        flt("O", dec).alias("s1"),
        flt("F", dec).alias("s2"),
        flt("O", dec * dec).alias("ss1"),
        flt("F", dec * dec).alias("ss2"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    s1, s2 = F.col("s1").cast("double"), F.col("s2").cast("double")
    ss1, ss2 = F.col("ss1").cast("double"), F.col("ss2").cast("double")
    v1 = (ss1 - s1 * s1 / n1) / (n1 - 1)
    v2 = (ss2 - s2 * s2 / n2) / (n2 - 1)
    t = (s1 / n1 - s2 / n2) / F.sqrt(v1 / n1 + v2 / n2)
    return (
        s.filter((n1 >= 2) & (n2 >= 2))
        .select("o_orderpriority", "n1", "n2", F.round(t, 6).alias("t_stat"))
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# q323 — ES sibling pipeline aggregations `stats_bucket` +
# `percentiles_bucket` over a month date_histogram of order revenue:
# the cross-bucket count/min/max/sum/avg plus exact linear-interpolated
# p25/p50/p75 of the monthly revenue values, emitted long-form
# (metric, value).
#
# Determinism: monthly revenue is an exact DECIMAL(18,2) sum; the
# percentile interpolation uses integer lo/fnum arithmetic ((n-1)*q
# DIV/MOD 4 — the q295 idiom, never float-derived ranks) over the
# sorted bucket array.
#
# Shape (100 TB): one shuffle to the month grain; every sibling agg
# then runs over the BUCKET FRAME (one row per month — calendar-bounded,
# ~80 values), exactly like the ES agg response the pipeline walks.
# ---------------------------------------------------------------------------
@register(
    "q323_sibling_bucket_aggs",
    oracle="""
    WITH monthly AS (
      SELECT date_trunc('month', o_orderdate) AS m,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
      FROM orders GROUP BY m),
    arr AS (
      SELECT list(rev ORDER BY rev) AS a, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(rev AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM monthly),
    pct AS (
      SELECT CAST(q AS BIGINT) AS q,
             a[CAST((n - 1) * q // 4 AS BIGINT) + 1] AS vlo,
             COALESCE(a[CAST((n - 1) * q // 4 AS BIGINT) + 2],
                      a[CAST((n - 1) * q // 4 AS BIGINT) + 1]) AS vhi,
             (n - 1) * q % 4 AS fnum
      FROM arr, (SELECT UNNEST([1, 2, 3]) AS q))
    SELECT metric, ROUND(value, 6) AS value FROM (
      SELECT 'count' AS metric, CAST(n AS DOUBLE) AS value FROM arr
      UNION ALL SELECT 'min', a[1] FROM arr
      UNION ALL SELECT 'max', a[n] FROM arr
      UNION ALL SELECT 'sum', total FROM arr
      UNION ALL SELECT 'avg', total / n FROM arr
      UNION ALL SELECT 'p' || CAST(q * 25 AS VARCHAR),
                       vlo + (vhi - vlo) * (CAST(fnum AS DOUBLE) / 4.0)
                FROM pct)
    ORDER BY metric
    """,
)
def q323_sibling_bucket_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(F.date_trunc("month", "o_orderdate").alias("m")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("rev")
    )
    arr = monthly.agg(
        F.sort_array(F.collect_list("rev")).alias("a"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("rev").cast("decimal(18,2)")).cast("double").alias("total"),
    )
    # ALL eight sibling metrics come out of ONE row-local explode over
    # the single 1-row `arr` frame — a stats/pct branch union would
    # re-execute the monthly + global aggregates per branch (two full
    # scans at 100 TB).
    def pctl(q: int) -> F.Column:
        vlo = F.expr(f"a[CAST((n - 1) * {q} DIV 4 AS INT)]")
        vhi = F.coalesce(F.expr(f"a[CAST((n - 1) * {q} DIV 4 AS INT) + 1]"), vlo)
        fnum = F.expr(f"(n - 1) * {q} % 4")
        return vlo + (vhi - vlo) * (fnum.cast("double") / F.lit(4.0))

    metrics = arr.select(
        F.explode(
            F.array(
                F.struct(F.lit("count").alias("metric"), F.col("n").cast("double").alias("value")),
                F.struct(F.lit("min").alias("metric"), F.element_at("a", 1).alias("value")),
                F.struct(F.lit("max").alias("metric"), F.element_at("a", F.col("n").cast("int")).alias("value")),
                F.struct(F.lit("sum").alias("metric"), F.col("total").alias("value")),
                F.struct(F.lit("avg").alias("metric"), (F.col("total") / F.col("n")).alias("value")),
                F.struct(F.lit("p25").alias("metric"), pctl(1).alias("value")),
                F.struct(F.lit("p50").alias("metric"), pctl(2).alias("value")),
                F.struct(F.lit("p75").alias("metric"), pctl(3).alias("value")),
            )
        ).alias("s")
    ).select("s.*")
    return metrics.select(
        "metric", F.round("value", 6).alias("value")
    ).orderBy("metric")


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
             list_filter(list_transform(toks, (x, i) ->
               CASE WHEN x = '{_SN_INCLUDE}' THEN i ELSE -1 END), p -> p >= 0) AS pa,
             list_filter(list_transform(toks, (x, i) ->
               CASE WHEN x = '{_SN_EXCLUDE}' THEN i ELSE -1 END), p -> p >= 0) AS pb
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
    from ..functions.plan import with_once

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
# q326 — ES `geo_bounds` aggregation: the tightest bounding box
# (min/max of both axes) of each nation's customer points on the
# deterministic [0, 3000)^2 integer lattice (the q235/q293 spatial
# fixture — lat/lon analog without trans-engine trig).
#
# Shape (100 TB): scan-local coordinate derivation + one
# map-combinable shuffle of |nations| rows. Completes the geo agg
# family (q293 geotile_grid, q306 geo_centroid, q310 distance sort,
# q256 gauss decay).
# ---------------------------------------------------------------------------
@register(
    "q326_geo_bounds",
    oracle="""
    WITH pts AS (
      SELECT c_nationkey,
             (c_custkey * 104729) % 3000 AS x,
             (c_custkey * 7919) % 3000 AS y
      FROM customer)
    SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(MIN(x) AS BIGINT) AS min_x, CAST(MAX(x) AS BIGINT) AS max_x,
           CAST(MIN(y) AS BIGINT) AS min_y, CAST(MAX(y) AS BIGINT) AS max_y
    FROM pts GROUP BY c_nationkey ORDER BY nationkey
    """,
)
def q326_geo_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    pts = cust.select(
        "c_nationkey",
        ((k * 104729) % 3000).alias("x"),
        ((k * 7919) % 3000).alias("y"),
    )
    return (
        pts.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_points"),
            F.min("x").cast("bigint").alias("min_x"),
            F.max("x").cast("bigint").alias("max_x"),
            F.min("y").cast("bigint").alias("min_y"),
            F.max("y").cast("bigint").alias("max_y"),
        )
        .select(
            F.col("c_nationkey").cast("bigint").alias("nationkey"),
            "n_points", "min_x", "max_x", "min_y", "max_y",
        )
        .orderBy("nationkey")
    )


# ---------------------------------------------------------------------------
# q327 — ES `moving_percentiles` pipeline aggregation: exact p25/p50/
# p75 of the trailing 7 daily-event-count buckets, emitted for every
# day with a full 7-bucket window (ES skips partial windows the same
# way q296's moving_fn does).
#
# Determinism: the window is a FIXED 7 values, so the linear-
# interpolation ranks are Python-precomputed integers (lo = 6q DIV 4,
# fnum = 6q MOD 4 — the q295 idiom); counts are exact integers and the
# only float op is one multiply by fnum/4.
#
# Shape (100 TB): one shuffle to the daily grid (map-combinable),
# then a single-partition window over calendar-bounded rows — the
# bucket frame, not the event volume.
# ---------------------------------------------------------------------------
_MP_RANKS = {q: ((7 - 1) * q // 4, (7 - 1) * q % 4) for q in (1, 2, 3)}


def _mp_sql(q: int) -> str:
    lo, fnum = _MP_RANKS[q]
    expr = f"CAST(a[{lo + 1}] AS DOUBLE)"
    if fnum:
        expr = (
            f"(CAST(a[{lo + 1}] AS DOUBLE) + (CAST(a[{lo + 2}] AS DOUBLE)"
            f" - CAST(a[{lo + 1}] AS DOUBLE)) * {fnum / 4.0})"
        )
    return f"ROUND({expr}, 6)"


@register(
    "q327_moving_percentiles",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY d),
    w AS (
      SELECT d,
             list_sort(list(c) OVER (ORDER BY d
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS a,
             ROW_NUMBER() OVER (ORDER BY d) AS rn
      FROM daily)
    SELECT strftime(d, '%Y-%m-%d') AS day,
           {_mp_sql(1)} AS p25, {_mp_sql(2)} AS p50, {_mp_sql(3)} AS p75
    FROM w WHERE rn >= 7 ORDER BY day
    """,
)
def q327_moving_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    w = Window.orderBy("d")
    win = daily.select(
        "d",
        F.sort_array(F.collect_list("c").over(w.rowsBetween(-6, 0))).alias("a"),
        F.row_number().over(w).alias("rn"),
    )

    def mp(q: int) -> F.Column:
        lo, fnum = _MP_RANKS[q]
        base = F.element_at("a", lo + 1).cast("double")
        if fnum:
            hi = F.element_at("a", lo + 2).cast("double")
            base = base + (hi - base) * F.lit(fnum / 4.0)
        return F.round(base, 6)

    return (
        win.filter(F.col("rn") >= 7)
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            mp(1).alias("p25"), mp(2).alias("p50"), mp(3).alias("p75"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# q328 — ES `rank_eval` API: precision@10 and MRR@10 for a panel of
# probe terms, each ranked by term frequency (tf desc, doc_id
# tiebreak) with binary relevance = document language is English.
# ES's precision metric divides by the RETRIEVED count (<= k), and
# MRR is 1/rank of the first relevant hit within the cutoff (0 when
# none) — both mirrored exactly.
#
# Shape (100 TB): a 3x row-local term explode, one shuffle to rank
# per term (WindowGroupLimit caps each partition's sort at k), then a
# 3-row aggregate. Scales with the corpus scan, not with k.
# ---------------------------------------------------------------------------
_RE_TERMS = ("merge", "sort", "scan")
_RE_K = 10


@register(
    "q328_rank_eval",
    oracle=f"""
    WITH hits AS (
      SELECT term, doc_id, lang = 'en' AS rel,
             ROW_NUMBER() OVER (PARTITION BY term
               ORDER BY len(list_filter({TOKS_SQL}, x -> x = term)) DESC,
                        doc_id) AS rank
      FROM documents, (SELECT UNNEST({list(_RE_TERMS)!r}) AS term)
      WHERE len(list_filter({TOKS_SQL}, x -> x = term)) > 0)
    SELECT term,
           CAST(COUNT(*) AS BIGINT) AS n_ret,
           ROUND(CAST(SUM(CASE WHEN rel THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS precision_at_k,
           ROUND(COALESCE(1.0 / MIN(CASE WHEN rel THEN rank END), 0.0), 6)
             AS mrr
    FROM hits WHERE rank <= {_RE_K}
    GROUP BY term ORDER BY term
    """,
)
def q328_rank_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", tokens("text").alias("toks")
    )
    hits = (
        docs.withColumn(
            "term", F.explode(F.array(*[F.lit(t) for t in _RE_TERMS]))
        )
        .withColumn(
            "tf", F.size(F.filter("toks", lambda x: x == F.col("term")))
        )
        .filter(F.col("tf") > 0)
        .withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("term").orderBy(F.desc("tf"), "doc_id")
            ),
        )
        .filter(F.col("rank") <= _RE_K)
        .select("term", (F.col("lang") == "en").alias("rel"), "rank")
    )
    return (
        hits.groupBy("term")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_ret"),
            F.round(
                F.sum(F.when(F.col("rel"), 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("precision_at_k"),
            F.round(
                F.coalesce(
                    F.lit(1.0) / F.min(F.when(F.col("rel"), F.col("rank"))),
                    F.lit(0.0),
                ),
                6,
            ).alias("mrr"),
        )
        .orderBy("term")
    )


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
# q330 — multi-level totals in ONE pass: ROLLUP(source, lang) over the
# document corpus — per (source, lang), per source, and grand total,
# with doc count and exact token sum at every level. The dataset-card
# manifest shape every corpus release ships, and the Spark surface
# (df.rollup / GROUPING SETS) that computes N aggregation levels in a
# single shuffle instead of N scans.
#
# Determinism: counts/sums are exact integers; NULL grouping slots are
# COALESCEd to the explicit '(all)' label on both engines, and the
# grouping level is surfaced as an integer.
#
# Shape (100 TB): ONE map-combinable shuffle — Spark expands the
# rollup row-locally before the partial agg, so the three levels cost
# one pass, not three scans.
# ---------------------------------------------------------------------------
@register(
    "q330_rollup_totals",
    oracle=f"""
    SELECT COALESCE(source, '(all)') AS source,
           COALESCE(lang, '(all)') AS lang,
           CAST(GROUPING(source) * 2 + GROUPING(lang) AS BIGINT) AS lvl,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len({TOKS_SQL})) AS BIGINT) AS tokens
    FROM documents GROUP BY ROLLUP(source, lang)
    ORDER BY lvl, source, lang
    """,
)
def q330_rollup_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "source", "lang", F.size(tokens("text")).alias("n_toks")
    )
    return (
        docs.rollup("source", "lang")
        .agg(
            # grouping() is only resolvable inside the Aggregate node
            (F.grouping("source") * 2 + F.grouping("lang"))
            .cast("bigint")
            .alias("lvl"),
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_toks").cast("bigint").alias("tokens"),
        )
        .select(
            F.coalesce("source", F.lit("(all)")).alias("source"),
            F.coalesce("lang", F.lit("(all)")).alias("lang"),
            "lvl",
            "n_docs",
            "tokens",
        )
        .orderBy("lvl", "source", "lang")
    )


# ---------------------------------------------------------------------------
# q331 — ES `range` aggregation: custom [from, to) buckets over
# o_totalprice with ES's "lo-hi" bucket keys, doc count and exact
# decimal average per bucket. Buckets with no matching docs are
# omitted (ES keyed-response behavior for empty custom ranges differs
# by version; the engine surfaces populated buckets).
#
# Shape (100 TB): scan-local integer bucket assignment + one
# map-combinable shuffle of <= 4 rows per partition.
# ---------------------------------------------------------------------------
_RANGE_BOUNDS = (0, 125_000, 250_000, 375_000)  # last bucket open-ended


def _range_key_sql() -> str:
    cases = []
    for i, lo in enumerate(_RANGE_BOUNDS):
        hi = _RANGE_BOUNDS[i + 1] if i + 1 < len(_RANGE_BOUNDS) else None
        label = f"{lo}-{hi}" if hi is not None else f"{lo}-*"
        cond = (
            f"o_totalprice >= {lo} AND o_totalprice < {hi}"
            if hi is not None
            else f"o_totalprice >= {lo}"
        )
        cases.append(f"WHEN {cond} THEN '{label}'")
    return "CASE " + " ".join(cases) + " END"


@register(
    "q331_range_agg",
    oracle=f"""
    WITH b AS (
      SELECT {_range_key_sql()} AS bucket,
             CAST(o_totalprice AS DECIMAL(18,2)) AS price
      FROM orders)
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS doc_count,
           ROUND(CAST(SUM(price) AS DOUBLE) / COUNT(*), 6) AS avg_price
    FROM b WHERE bucket IS NOT NULL
    GROUP BY bucket ORDER BY bucket
    """,
)
def q331_range_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    key = None
    for i, lo in enumerate(_RANGE_BOUNDS):
        hi = _RANGE_BOUNDS[i + 1] if i + 1 < len(_RANGE_BOUNDS) else None
        label = f"{lo}-{hi}" if hi is not None else f"{lo}-*"
        cond = (
            (F.col("o_totalprice") >= lo) & (F.col("o_totalprice") < hi)
            if hi is not None
            else F.col("o_totalprice") >= lo
        )
        key = F.when(cond, label) if key is None else key.when(cond, label)
    b = o.select(
        key.alias("bucket"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    ).filter(F.col("bucket").isNotNull())
    return (
        b.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("doc_count"),
            F.round(
                F.sum("price").cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_price"),
        )
        .orderBy("bucket")
    )


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
# q333 — ES `children` aggregation: under each parent bucket
# (o_orderpriority), aggregate over the parents' CHILD documents
# (lineitems): child count and exact decimal average extendedprice.
# Completes the parent-child family (q264 has_child, q265 has_parent,
# q266 nested) with the aggregation side.
#
# Shape (100 TB): the parent attribute projects to (orderkey,
# priority) before the join, so the shuffle carries two columns; the
# join is key-partitioned (co-partitioned with the agg that follows —
# AQE plans one exchange per side) and the final agg is 5 rows.
# ---------------------------------------------------------------------------
@register(
    "q333_children_agg",
    oracle="""
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_children,
           ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                 / COUNT(*), 6) AS avg_child_price
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority
    """,
)
def q333_children_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_extendedprice").cast("decimal(18,2)").alias("price")
    )
    j = li.join(o, li.l_orderkey == o.o_orderkey)
    return (
        j.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_children"),
            F.round(
                F.sum("price").cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_child_price"),
        )
        .orderBy("o_orderpriority")
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

    from ..functions.plan import with_once

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
# q335 — ColBERT-style late-interaction scoring (MaxSim): a probe SET
# of vectors (vec_ids 0-2, the "query tokens") against each label's
# vector set (the "document"): score(label) = Σ_q max_v cos(q, v).
# The standard multi-vector retrieval operator RAG rerankers use.
#
# Determinism: per-pair cosines are the shared left-to-right double
# fold ROUND(.,6); max is order-free; the 3-probe sum goes through
# DECIMAL(18,6). Probe vectors participate in their own label's set
# (documented; they contribute cos=1 to their own max).
#
# Shape (100 TB): the probe set is a 3-row broadcast (never a
# shuffled join); per-pair scoring is scan-local; two map-combinable
# shuffles (max per (label, probe), sum per label). Candidate
# generation at real scale plugs into the IVF/LSH entries (q82/q38).
# ---------------------------------------------------------------------------
_MX_PROBES = (0, 1, 2)


@register(
    "q335_colbert_maxsim",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS qid, embedding AS qv FROM embeddings
      WHERE vec_id IN {_MX_PROBES!r}),
    pair AS (
      SELECT e.label, q.qid,
             MAX(ROUND({_dot_sql_ext4("e.embedding", "q.qv")}
                 / (sqrt({_dot_sql_ext4("e.embedding", "e.embedding")})
                    * sqrt({_dot_sql_ext4("q.qv", "q.qv")})), 6)) AS best
      FROM embeddings e CROSS JOIN q
      GROUP BY e.label, q.qid)
    SELECT label,
           ROUND(CAST(SUM(CAST(best AS DECIMAL(18,6))) AS DOUBLE), 6)
             AS maxsim_score,
           CAST(COUNT(*) AS BIGINT) AS n_probes
    FROM pair GROUP BY label ORDER BY maxsim_score DESC, label LIMIT 10
    """,
)
def q335_colbert_maxsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import cosine

    emb = load_table(spark, sf_dir, "embeddings")
    probes = F.broadcast(
        emb.filter(F.col("vec_id").isin(*_MX_PROBES)).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
        )
    )
    pair = (
        emb.crossJoin(probes)
        .select(
            "label", "qid",
            F.round(cosine(F.col("embedding"), F.col("qv")), 6).alias("cos"),
        )
        .groupBy("label", "qid")
        .agg(F.max("cos").alias("best"))
    )
    return (
        pair.groupBy("label")
        .agg(
            F.round(
                F.sum(F.col("best").cast("decimal(18,6)")).cast("double"), 6
            ).alias("maxsim_score"),
            F.count(F.lit(1)).cast("bigint").alias("n_probes"),
        )
        .orderBy(F.desc("maxsim_score"), "label")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# q336 — ES `filters` aggregation with `other_bucket`: named,
# independently-evaluated filter buckets (a doc may land in several)
# plus the bucket of docs matching NONE. Filters mix a JSON-extracted
# numeric predicate with keyword predicates — the ES shape where each
# named bucket is an arbitrary query.
#
# Shape (100 TB): ONE pass — every named bucket is a conditional
# accumulator in a single map-combinable aggregate (never one scan
# per filter), unpivoted row-locally from the 1-row result.
# ---------------------------------------------------------------------------
_FLT_BUCKETS = (
    ("big_k", "CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50"),
    ("purchase", "event_type = 'purchase'"),
    ("errors", "event_type = 'error'"),
)


@register(
    "q336_filters_agg",
    oracle=f"""
    WITH t AS (
      SELECT *,
             {_FLT_BUCKETS[0][1]} AS f0,
             {_FLT_BUCKETS[1][1]} AS f1,
             {_FLT_BUCKETS[2][1]} AS f2
      FROM events),
    s AS (
      SELECT CAST(SUM(CASE WHEN f0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
             CAST(SUM(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
             CAST(SUM(CASE WHEN f2 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
             CAST(SUM(CASE WHEN NOT (f0 OR f1 OR f2) THEN 1 ELSE 0 END)
               AS BIGINT) AS c_other
      FROM t)
    SELECT bucket, doc_count FROM (
      SELECT '{_FLT_BUCKETS[0][0]}' AS bucket, c0 AS doc_count FROM s
      UNION ALL SELECT '{_FLT_BUCKETS[1][0]}', c1 FROM s
      UNION ALL SELECT '{_FLT_BUCKETS[2][0]}', c2 FROM s
      UNION ALL SELECT '_other_', c_other FROM s)
    ORDER BY bucket
    """,
)
def q336_filters_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    f0 = F.get_json_object("props", "$.k").cast("bigint") >= 50
    f1 = F.col("event_type") == "purchase"
    f2 = F.col("event_type") == "error"
    t = ev.select(f0.alias("f0"), f1.alias("f1"), f2.alias("f2"))

    def cnt(c: F.Column) -> F.Column:
        return F.sum(F.when(c, 1).otherwise(0)).cast("bigint")

    s = t.agg(
        cnt(F.col("f0")).alias("c0"),
        cnt(F.col("f1")).alias("c1"),
        cnt(F.col("f2")).alias("c2"),
        cnt(~(F.col("f0") | F.col("f1") | F.col("f2"))).alias("c_other"),
    )
    out = s.select(
        F.explode(
            F.array(
                F.struct(F.lit(_FLT_BUCKETS[0][0]).alias("bucket"), F.col("c0").alias("doc_count")),
                F.struct(F.lit(_FLT_BUCKETS[1][0]).alias("bucket"), F.col("c1").alias("doc_count")),
                F.struct(F.lit(_FLT_BUCKETS[2][0]).alias("bucket"), F.col("c2").alias("doc_count")),
                F.struct(F.lit("_other_").alias("bucket"), F.col("c_other").alias("doc_count")),
            )
        ).alias("b")
    ).select("b.*")
    return out.orderBy("bucket")


# ---------------------------------------------------------------------------
# q337 — edit-distance near-duplicate audit over the part-name
# VOCABULARY: distinct p_name values whose Levenshtein distance is
# <= 2 (Spark's levenshtein == DuckDB's — unit-cost ops). Pairing runs
# over DISTINCT names, not rows — the name vocabulary is bounded
# (adjective x noun), so the pair stage is scale-CONSTANT while the
# dedup signal still covers every row; a |length difference| <= 1
# filter prunes before the quadratic distance.
#
# Shape (100 TB): one distinct shuffle collapses rows to the bounded
# vocabulary; the vocabulary self-join is broadcast (tiny by
# construction). This is the ES fuzzy-dedup analog of q251's
# term-dictionary expansion.
# ---------------------------------------------------------------------------
_ED_MAX = 2


@register(
    "q337_name_edit_pairs",
    oracle=f"""
    WITH v AS (SELECT DISTINCT p_name FROM part)
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
    FROM v a JOIN v b
      ON a.p_name < b.p_name
     AND abs(len(a.p_name) - len(b.p_name)) <= 1
    WHERE levenshtein(a.p_name, b.p_name) <= {_ED_MAX}
    ORDER BY name_a, name_b
    """,
)
def q337_name_edit_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = load_table(spark, sf_dir, "part").select("p_name").distinct()
    a = v.select(F.col("p_name").alias("name_a"))
    b = v.select(F.col("p_name").alias("name_b"))
    pairs = a.join(
        F.broadcast(b),
        (F.col("name_a") < F.col("name_b"))
        & (
            F.abs(F.length("name_a") - F.length("name_b")) <= 1
        ),
    )
    return (
        pairs.select(
            "name_a", "name_b",
            F.levenshtein("name_a", "name_b").cast("bigint").alias("dist"),
        )
        .filter(F.col("dist") <= _ED_MAX)
        .orderBy("name_a", "name_b")
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
# q339 — ES `histogram` aggregation with `min_doc_count: 0`: fixed
# interval-10 buckets over signup events' value, EMITTING EMPTY
# BUCKETS across the populated extent (the grid-fill contract ES
# clients rely on for gap-free charts).
#
# Determinism: bucket assignment is integer-cents arithmetic
# (ROUND(value*100) -> BIGINT // 1000), never float floor-division;
# the grid is an integer sequence between the observed min/max bucket.
#
# Shape (100 TB): one map-combinable shuffle to the (tiny) populated
# bucket set, then the grid explode + join run on the BUCKET frame —
# bounded by the value range, not the event volume.
# ---------------------------------------------------------------------------
_H_INTERVAL = 10  # value units; cents // 1000


@register(
    "q339_histogram_empty_buckets",
    oracle=f"""
    WITH b AS (
      SELECT CAST(round(value * 100) AS BIGINT) // {_H_INTERVAL * 100} AS bk
      FROM events WHERE event_type = 'signup'),
    cnt AS (SELECT bk, CAST(COUNT(*) AS BIGINT) AS c FROM b GROUP BY bk),
    grid AS (
      SELECT UNNEST(range((SELECT MIN(bk) FROM cnt),
                          (SELECT MAX(bk) FROM cnt) + 1)) AS bk)
    SELECT CAST(g.bk * {_H_INTERVAL} AS BIGINT) AS bucket_key,
           COALESCE(c.c, 0) AS doc_count
    FROM grid g LEFT JOIN cnt c ON c.bk = g.bk
    ORDER BY bucket_key
    """,
)
def q339_histogram_empty_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "signup"
    )
    bk = (
        F.round(F.col("value") * 100).cast("bigint") / (_H_INTERVAL * 100)
    ).cast("bigint")  # non-negative values: cast == floor-div
    cnt = ev.select(bk.alias("bk")).groupBy("bk").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    # the grid derives from the SAME tiny aggregated frame (one row
    # after the min/max agg) — no second scan of events
    bounds = cnt.agg(
        F.min("bk").alias("lo"), F.max("bk").alias("hi")
    )
    grid = bounds.select(
        F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("bk")
    )
    return (
        grid.join(cnt, "bk", "left")
        .select(
            (F.col("bk") * _H_INTERVAL).cast("bigint").alias("bucket_key"),
            F.coalesce(F.col("c"), F.lit(0)).cast("bigint").alias("doc_count"),
        )
        .orderBy("bucket_key")
    )


# ---------------------------------------------------------------------------
# q340 — ES `geohash_grid` aggregation with REAL geohash cell keys:
# normalize each lattice coordinate to 15 bits, interleave (lon-first,
# exactly the geohash bit order), truncate to _GH_PRECISION chars
# (5 bits each; precision 2 = 10 bits = 1,024 cells here) and render
# in the standard base32 alphabet. All bit surgery is
# integer div/mod arithmetic GENERATED as literals (no engine bitwise
# builtins), so both engines compute the identical code.
#
# Shape (100 TB): scan-local key derivation (a constant-depth integer
# expression) + one tiny-cardinality map-combinable shuffle.
# Complements q293 (geotile z/x/y) with the base32 geohash surface.
# ---------------------------------------------------------------------------
_GH_ALPHA = "0123456789bcdefghjkmnpqrstuvwxyz"
_GH_BITS = 15  # per-axis resolution before truncation
_GH_PRECISION = 2  # chars (5 bits each) -- 1,024 cells: real bucket counts at every SF


def _gh_interleave_sql(gx: str, gy: str) -> str:
    # code30 = sum_i bit_i(gx)*2^(2i+1) + bit_i(gy)*2^(2i)   (lon = even
    # bit slots from the MSB side = the *higher* of each pair)
    terms = []
    for i in range(_GH_BITS):
        terms.append(f"(({gx} // {1 << i}) % 2) * {1 << (2 * i + 1)}")
        terms.append(f"(({gy} // {1 << i}) % 2) * {1 << (2 * i)}")
    return "(" + " + ".join(terms) + ")"


def _gh_chars_sql(code_trunc: str) -> str:
    parts = []
    for k in range(_GH_PRECISION):
        shift = 32 ** (_GH_PRECISION - 1 - k)
        parts.append(f"substr('{_GH_ALPHA}', CAST(({code_trunc} // {shift}) % 32 AS INT) + 1, 1)")
    return " || ".join(parts)


@register(
    "q340_geohash_grid",
    oracle=f"""
    WITH pts AS (
      SELECT ((c_custkey * 104729) % 3000) * {1 << _GH_BITS} // 3000 AS gx,
             ((c_custkey * 7919) % 3000) * {1 << _GH_BITS} // 3000 AS gy
      FROM customer),
    coded AS (
      SELECT {_gh_interleave_sql("gx", "gy")} // {1 << (2 * _GH_BITS - 5 * _GH_PRECISION)}
               AS code_trunc
      FROM pts)
    SELECT {_gh_chars_sql("code_trunc")} AS geohash,
           CAST(COUNT(*) AS BIGINT) AS doc_count
    FROM coded GROUP BY code_trunc
    ORDER BY doc_count DESC, geohash LIMIT 20
    """,
)
def q340_geohash_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    gx = F.floor(((k * 104729) % 3000) * (1 << _GH_BITS) / 3000).cast("bigint")
    gy = F.floor(((k * 7919) % 3000) * (1 << _GH_BITS) / 3000).cast("bigint")
    pts = cust.select(gx.alias("gx"), gy.alias("gy"))

    code30 = None
    for i in range(_GH_BITS):
        tx = (F.col("gx") / (1 << i)).cast("bigint") % 2 * (1 << (2 * i + 1))
        ty = (F.col("gy") / (1 << i)).cast("bigint") % 2 * (1 << (2 * i))
        code30 = tx + ty if code30 is None else code30 + tx + ty
    code_trunc = (code30 / (1 << (2 * _GH_BITS - 5 * _GH_PRECISION))).cast("bigint")
    coded = pts.select(code_trunc.alias("code_trunc"))

    agg = coded.groupBy("code_trunc").agg(
        F.count(F.lit(1)).cast("bigint").alias("doc_count")
    )
    chars = [
        F.substring(
            F.lit(_GH_ALPHA),
            ((F.col("code_trunc") / (32 ** (_GH_PRECISION - 1 - kk))).cast("bigint") % 32)
            .cast("int")
            + 1,
            1,
        )
        for kk in range(_GH_PRECISION)
    ]
    return (
        agg.select(F.concat(*chars).alias("geohash"), "doc_count")
        .orderBy(F.desc("doc_count"), "geohash")
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
# q342 — ES 8 filtered kNN (`knn` clause with `filter`): exact cosine
# top-k against the probe vector, restricted by a METADATA predicate
# evaluated BEFORE scoring (ES semantics: the filter narrows the
# candidate set, it does not post-filter the top-k — a post-filter
# could return fewer than k). Filter here: label != the probe's label
# (the cross-class retrieval shape hard-negative mining uses).
#
# Shape (100 TB): the filter prunes at the scan (predicate pushdown),
# the probe is a 1-row broadcast, scoring is scan-local, and the top-k
# is TakeOrdered — the q37 brute-force shape with the candidate-set
# contract made explicit. q38/q82 remain the sub-linear path.
# ---------------------------------------------------------------------------
_KF_PROBE = 0


@register(
    "q342_filtered_knn",
    oracle=f"""
    WITH q AS (
      SELECT embedding AS qv, label AS qlabel FROM embeddings
      WHERE vec_id = {_KF_PROBE})
    SELECT e.vec_id, e.label,
           ROUND({_dot_sql_ext4("e.embedding", "q.qv")}
                 / (sqrt({_dot_sql_ext4("e.embedding", "e.embedding")})
                    * sqrt({_dot_sql_ext4("q.qv", "q.qv")})), 6) AS score
    FROM embeddings e CROSS JOIN q
    WHERE e.label != q.qlabel
    ORDER BY score DESC, e.vec_id LIMIT 10
    """,
)
def q342_filtered_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import cosine

    emb = load_table(spark, sf_dir, "embeddings")
    probe = F.broadcast(
        emb.filter(F.col("vec_id") == _KF_PROBE).select(
            F.col("embedding").alias("qv"), F.col("label").alias("qlabel")
        )
    )
    return (
        emb.crossJoin(probe)
        .filter(F.col("label") != F.col("qlabel"))
        .select(
            "vec_id", "label",
            F.round(cosine(F.col("embedding"), F.col("qv")), 6).alias("score"),
        )
        .orderBy(F.desc("score"), "vec_id")
        .limit(10)
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
