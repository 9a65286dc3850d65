"""Dedup query catalog: exact, MinHash+LSH, n-gram Jaccard, SimHash, and
the audits over them (containment, keep-best, duplicate rates, LSH
S-curve) —
each oracle-mirrored in DuckDB SQL sharing the engine's exact hash/shingle
spec (md5-hex, 3-word shingles, 8 hashes × 4 bands, 32-bit simhash)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import (
    MD5_SPLIT_BUCKET_SQL,
    NORM_SQL,
    SHINGLES_SQL,
    SPLIT_SQL,
    STOP_SQL,
    STOPWORDS,
    TOKS_SQL,
    md5_hex,
    md5_split,
    md5_split_bucket,
    normalize_text,
    tokens,
)
from ..operators import dedup as D
from ..sources.readers import load_table
from .catalog import register

NUM_HASHES, BANDS = 8, 4
# Mega-bucket cap threaded through the operator AND the oracle (buckets
# with more than MAX_BUCKET members carry no blocking signal and cost
# quadratic pair explosion — see operators.dedup.lsh_candidate_pairs).
MAX_BUCKET = 200

# Mirror of functions.text.minhash_band_keys' chunked hash family:
# hash i = 8-hex-char chunk (i%4) of md5('<i//4>|' || shingle).
_SIG_COLS = ", ".join(
    f"list_sort(list_transform(sh, s -> substr(md5('{i // 4}|' || s), {(i % 4) * 8 + 1}, 8)))[1] AS h{i}"
    for i in range(NUM_HASHES)
)
_BANDS_UNION = " UNION ALL ".join(
    f"SELECT doc_id, {b} AS band, h{2*b} || h{2*b+1} AS key FROM sig" for b in range(BANDS)
)
# Shared CTE prefix producing LSH candidate pairs (id_a < id_b).
LSH_PAIRS_CTE = f"""
WITH t AS (SELECT doc_id, {TOKS_SQL} AS tk FROM documents),
s AS (SELECT doc_id, {SHINGLES_SQL} AS sh FROM t),
sig AS (SELECT doc_id, {_SIG_COLS} FROM s),
bands AS ({_BANDS_UNION}),
bkept AS (
  SELECT bands.band, bands.key, bands.doc_id
  FROM bands JOIN (SELECT band, key FROM bands GROUP BY band, key
                   HAVING COUNT(*) BETWEEN 2 AND {MAX_BUCKET}) g
    ON bands.band = g.band AND bands.key = g.key),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bkept a JOIN bkept b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
"""


def lsh_pairs(sh: DataFrame) -> DataFrame:
    """The catalog's LSH candidate pairs ``(id_a, id_b)`` over
    ``doc_shingles`` output keyed by ``doc_id``: NUM_HASHES × BANDS
    MinHash bands, buckets capped at MAX_BUCKET (``LSH_PAIRS_CTE``'s
    Spark side)."""
    return D.lsh_candidate_pairs(
        D.minhash_bands(sh, "doc_id", num_hashes=NUM_HASHES, bands=BANDS), "doc_id",
        max_bucket=MAX_BUCKET,
    )


# Connected components of the LSH pair graph: the recursive closure
# `reach` over the undirected `edges`; a node's cluster id is
# CLUSTER_ID_SQL over its `reach` rows (``lsh_clusters``' oracle).
COMPONENTS_CTE = f"""{LSH_PAIRS_CTE.replace("WITH ", "WITH RECURSIVE ", 1)},
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION SELECT id_b, id_a FROM pairs),
    reach AS (
      SELECT a AS node, b AS reachable FROM edges
      UNION
      SELECT r.node, e.b FROM reach r JOIN edges e ON r.reachable = e.a)"""
CLUSTER_ID_SQL = "LEAST(node, MIN(reachable))"


def lsh_clusters(docs: DataFrame) -> DataFrame:
    """``(node, cluster_id)``: the min-label connected components of the
    LSH pairs over ``docs``' 3-word shingles (``COMPONENTS_CTE``'s Spark
    side). Takes the loaded frame so a caller that reuses ``docs``
    scans it once."""
    return D.dedup_clusters(lsh_pairs(D.doc_shingles(docs, "doc_id", "text", n=3)))


# ---------------------------------------------------------------------------
# Exact dedup — demonstrated on a doubled corpus (docs ∪ re-ingested docs)
# so survivors/copy-counts are non-trivial.
# ---------------------------------------------------------------------------
@register(
    "q31_dedup_exact",
    oracle=f"""
    WITH u AS (SELECT doc_id, text FROM documents
               UNION ALL SELECT doc_id + 10000, text FROM documents)
    SELECT md5({NORM_SQL}) AS content_hash, MIN(doc_id) AS survivor_id, COUNT(*) AS n_copies
    FROM u GROUP BY content_hash
    """,
)
def q31_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    doubled = docs.unionAll(docs.select((F.col("doc_id") + 10000).alias("doc_id"), "text"))
    return D.exact_dedup_groups(doubled, "doc_id", "text")


# ---------------------------------------------------------------------------
# MinHash + LSH candidate pairs
# ---------------------------------------------------------------------------
@register(
    "q32_dedup_minhash_pairs",
    oracle=f"{LSH_PAIRS_CTE} SELECT id_a, id_b FROM pairs",
)
def q32_dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sh = D.doc_shingles(docs, "doc_id", "text", n=3)
    return lsh_pairs(sh)


# ---------------------------------------------------------------------------
# n-gram Jaccard verify on the LSH candidates
# ---------------------------------------------------------------------------
@register(
    "q33_dedup_jaccard_verify",
    oracle=f"""
    {LSH_PAIRS_CTE}
    SELECT id_a, id_b,
           ROUND(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                 / CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE), 4) AS jaccard
    FROM pairs JOIN s sa ON sa.doc_id = id_a JOIN s sb ON sb.doc_id = id_b
    """,
)
def q33_dedup_jaccard_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.minhash_dedup_pairs(docs, "doc_id", "text", n=3, num_hashes=NUM_HASHES,
                                 bands=BANDS, max_bucket=MAX_BUCKET)


# ---------------------------------------------------------------------------
# SimHash fingerprints + near-dup pairs (block trick + Hamming verify)
# ---------------------------------------------------------------------------
def _simhash_sql(bits: int = 32) -> str:
    votes = []
    for p in range(1, bits + 1):
        vote = (
            f"list_reduce(list_transform(tk, t -> CASE WHEN substr(md5(t), {p}, 1) >= '8'"
            f" THEN 1 ELSE -1 END), (x, y) -> x + y)"
        )
        votes.append(f"CASE WHEN {vote} > 0 THEN '1' ELSE '0' END")
    return " || ".join(votes)


@register(
    "q34_dedup_simhash",
    oracle=f"""
    WITH t AS (SELECT doc_id, {TOKS_SQL} AS tk FROM documents)
    SELECT doc_id, {_simhash_sql()} AS fingerprint FROM t
    """,
)
def q34_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.simhash_fingerprints(docs, "doc_id", "text", bits=32)


@register(
    "q35_dedup_simhash_pairs",
    oracle=f"""
    WITH t AS (SELECT doc_id, {TOKS_SQL} AS tk FROM documents),
    fp AS (SELECT doc_id, {_simhash_sql()} AS fingerprint FROM t),
    blocked AS (
      SELECT doc_id, fingerprint, CAST(b AS VARCHAR) || ':' || substr(fingerprint, b*8 + 1, 8) AS block
      FROM fp, UNNEST([0, 1, 2, 3]) AS u(b)),
    kept AS (
      SELECT * FROM blocked
      WHERE block IN (SELECT block FROM blocked GROUP BY block HAVING COUNT(*) BETWEEN 2 AND 200)),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.fingerprint AS fa, b.fingerprint AS fb
      FROM kept a JOIN kept b ON a.block = b.block AND a.doc_id < b.doc_id)
    SELECT id_a, id_b,
           CAST(len(list_filter(range(1, 33), i -> substr(fa, i, 1) != substr(fb, i, 1))) AS BIGINT) AS hamming
    FROM cand
    WHERE len(list_filter(range(1, 33), i -> substr(fa, i, 1) != substr(fb, i, 1))) <= 3
    """,
)
def q35_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    fp = D.simhash_fingerprints(docs, "doc_id", "text", bits=32)
    return D.simhash_pairs(fp, "doc_id", bits=32, blocks=4, max_hamming=3)


# ---------------------------------------------------------------------------
# q78 — duplicate-cluster resolution: connected components over the LSH
# pair graph (min-label propagation; oracle = recursive-CTE transitive
# closure). The step that turns pairs into keep-one-per-cluster decisions.
# ---------------------------------------------------------------------------
@register(
    "q78_dedup_clusters",
    oracle=f"""
    {COMPONENTS_CTE}
    SELECT node, {CLUSTER_ID_SQL} AS cluster_id
    FROM reach GROUP BY node
    """,
)
def q78_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lsh_clusters(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# q81 — train/test contamination audit: LSH near-dup pairs that straddle
# the q80 hash split, with exact Jaccard evidence. The standard eval-
# hygiene check for training corpora, composed from the dedup + split
# operators.
# ---------------------------------------------------------------------------
_SPLITS_CTE = f"""
splits AS (
  SELECT doc_id,
         {SPLIT_SQL} AS split
  FROM (SELECT doc_id,
               {MD5_SPLIT_BUCKET_SQL} AS h
        FROM documents))
"""


@register(
    "q81_split_contamination",
    oracle=f"""
    {LSH_PAIRS_CTE},
    {_SPLITS_CTE}
    SELECT id_a, id_b, sa2.split AS split_a, sb2.split AS split_b,
           ROUND(CAST(len(list_intersect(sha.sh, shb.sh)) AS DOUBLE)
                 / CAST(len(list_distinct(list_concat(sha.sh, shb.sh))) AS DOUBLE), 4) AS jaccard
    FROM pairs
      JOIN splits sa2 ON sa2.doc_id = id_a
      JOIN splits sb2 ON sb2.doc_id = id_b
      JOIN s sha ON sha.doc_id = id_a
      JOIN s shb ON shb.doc_id = id_b
    WHERE sa2.split != sb2.split
    """,
)
def q81_split_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # r12 NEGATIVE RESULT: pinning sh (consumed by bands + both verify
    # sides) measured FLAT in interleaved A/B (min 2.97 unpinned vs
    # 3.04 pinned) — the three replays are parallel stage inputs of one
    # job, the r11 parallel-consumer class. Deliberately unpinned.
    sh = D.doc_shingles(docs, "doc_id", "text", n=3)
    pairs = lsh_pairs(sh)
    verified = D.jaccard_verify(pairs, sh, "doc_id")
    h = md5_split_bucket()
    splits = docs.select(
        "doc_id",
        md5_split(h).alias("split"),
    )
    sa = splits.select(F.col("doc_id").alias("id_a"), F.col("split").alias("split_a"))
    sb = splits.select(F.col("doc_id").alias("id_b"), F.col("split").alias("split_b"))
    return (
        verified.join(F.broadcast(sa), "id_a")
        .join(F.broadcast(sb), "id_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .select("id_a", "id_b", "split_a", "split_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# q90 — NEAR-dup dedup applied end-to-end: materialize the corpus with
# every non-keeper cluster member removed (keeper = min id per connected
# component of the LSH pair graph, q78's clustering). The final step of
# the dedup story: candidates (q32) → verify (q33) → clusters (q78) →
# APPLY (this).
# ---------------------------------------------------------------------------
@register(
    "q90_neardup_apply",
    oracle=f"""
    {COMPONENTS_CTE},
    losers AS (
      SELECT node FROM reach GROUP BY node
      HAVING {CLUSTER_ID_SQL} != node)
    SELECT doc_id, strlen(text) AS n_bytes FROM documents
    WHERE doc_id NOT IN (SELECT node FROM losers)
    """,
)
def q90_neardup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    losers = lsh_clusters(docs).filter(F.col("node") != F.col("cluster_id")).select(
        F.col("node").alias("doc_id")
    )
    return docs.join(losers, "doc_id", "left_anti").select(
        "doc_id", F.length(F.encode("text", "UTF-8")).cast("bigint").alias("n_bytes")
    )


# ---------------------------------------------------------------------------
# q99 — incremental dedup: admit the new-batch docs (doc_id % 4 == 0)
# that duplicate nothing in the standing corpus (doc_id % 4 != 0) —
# exact content-hash gate, then LSH-candidate + Jaccard >= 0.5 verify
# against the corpus only. The corpus side of both gates is the
# persistable index state (hash set + band frame): a production
# increment recomputes signatures for the batch only.
# ---------------------------------------------------------------------------
@register(
    "q99_dedup_incremental",
    oracle=f"""
    WITH t AS (SELECT doc_id, {TOKS_SQL} AS tk FROM documents),
    s AS (SELECT doc_id, {SHINGLES_SQL} AS sh FROM t),
    bh AS (SELECT doc_id, md5({NORM_SQL}) AS h FROM documents WHERE doc_id % 4 = 0),
    ch AS (SELECT DISTINCT md5({NORM_SQL}) AS h FROM documents WHERE doc_id % 4 != 0),
    exact_ok AS (SELECT doc_id FROM bh WHERE h NOT IN (SELECT h FROM ch)),
    sig AS (SELECT doc_id, {_SIG_COLS} FROM s),
    bands AS ({_BANDS_UNION}),
    bb AS (SELECT * FROM bands WHERE doc_id IN (SELECT doc_id FROM exact_ok)),
    cbraw AS (SELECT * FROM bands WHERE doc_id % 4 != 0),
    cb AS (
      SELECT cbraw.* FROM cbraw
      JOIN (SELECT band, key FROM cbraw GROUP BY band, key
            HAVING COUNT(*) <= {MAX_BUCKET}) g
        ON cbraw.band = g.band AND cbraw.key = g.key),
    cand AS (
      SELECT DISTINCT bb.doc_id AS id_a, cb.doc_id AS id_b
      FROM bb JOIN cb ON bb.band = cb.band AND bb.key = cb.key),
    near AS (
      SELECT DISTINCT id_a FROM cand
      JOIN s sa ON sa.doc_id = id_a JOIN s sb ON sb.doc_id = id_b
      WHERE ROUND(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
            / CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE), 4) >= 0.5)
    SELECT doc_id FROM exact_ok WHERE doc_id NOT IN (SELECT id_a FROM near)
    """,
)
def q99_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    batch = docs.filter(F.col("doc_id") % 4 == 0)
    corpus = docs.filter(F.col("doc_id") % 4 != 0)
    return D.incremental_dedup(
        batch, corpus, "doc_id", "text",
        n=3, num_hashes=NUM_HASHES, bands=BANDS,
        threshold=0.5, max_bucket=MAX_BUCKET,
    )


# ---------------------------------------------------------------------------
# Exact set-similarity join with PPJoin-style prefix filtering
# (Xiao et al., "Efficient Similarity Joins for Near Duplicate
# Detection"). Complements the APPROXIMATE MinHash/SimHash family above:
# same Jaccard>=t semantics, but exact and with a deterministic candidate
# bound. Candidate generation never ranks tokens globally — each doc's
# tokens are ordered by (document-frequency, token), a total order
# obtained with one df-join + per-doc array sort, so there is no global
# window / single-partition stage anywhere. Prefix length
# |x| - ceil(t|x|) + 1 guarantees any pair with J>=t shares a prefix
# token; rare-first ordering keeps prefix-token buckets small at scale.
#
# Runs over the SAME 3-word-shingle sets as the MinHash family (plain
# tokens are non-discriminative on this corpus — a shared vocabulary
# makes ~74% of all pairs J>=0.5 at token level, i.e. a quadratic
# result; shingles make this the EXACT answer the q32/q33 LSH pipeline
# approximates, directly comparable pair-for-pair).
# ---------------------------------------------------------------------------
_PP_T = 0.5


@register(
    "q237_ppjoin_exact",
    oracle=f"""
    WITH t0 AS (SELECT doc_id, {TOKS_SQL} AS tk FROM documents),
    t AS (SELECT doc_id, {SHINGLES_SQL} AS tk FROM t0),
    tok AS (SELECT doc_id, u.t AS tok FROM t, UNNEST(tk) AS u(t)),
    dfreq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tok GROUP BY tok),
    sorted_tk AS (
      SELECT tok.doc_id, list(tok.tok ORDER BY dfreq.df, tok.tok) AS stk
      FROM tok JOIN dfreq ON tok.tok = dfreq.tok
      GROUP BY tok.doc_id),
    pref AS (
      SELECT doc_id, len(stk) AS l,
             stk[1 : len(stk) - CAST(CEIL({_PP_T} * len(stk)) AS INT) + 1] AS p
      FROM sorted_tk),
    pe AS (SELECT doc_id, l, u.t AS tok FROM pref, UNNEST(p) AS u(t)),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.l AS la, b.l AS lb
      FROM pe a JOIN pe b ON a.tok = b.tok AND a.doc_id < b.doc_id
      WHERE LEAST(a.l, b.l) >= {_PP_T} * GREATEST(a.l, b.l)),
    inter AS (
      SELECT c.id_a, c.id_b, c.la, c.lb,
             CAST(len(list_intersect(sa.stk, sb.stk)) AS BIGINT) AS i
      FROM cand c
      JOIN sorted_tk sa ON sa.doc_id = c.id_a
      JOIN sorted_tk sb ON sb.doc_id = c.id_b)
    SELECT id_a, id_b,
           ROUND(CAST(i AS DOUBLE) / (la + lb - i), 6) AS jaccard
    FROM inter
    WHERE CAST(i AS DOUBLE) / (la + lb - i) >= {_PP_T}
    ORDER BY id_a, id_b
    """,
)
def q237_ppjoin_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    # doc_shingles materializes the per-doc shingle arrays (one row per
    # doc) — every branch of the PPJoin plan reuses that single
    # evaluation. The join itself is operators.dedup.ppjoin_pairs
    # (prefix filtering under a rare-first total order, array_intersect
    # verify), hypothesis-fuzzed against a brute-force cross join in
    # tests/test_properties.py.
    docs = D.doc_shingles(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        "doc_id", "text", n=3, out="tk", materialize=True,
    )
    return D.ppjoin_pairs(docs, "doc_id", "tk", threshold=_PP_T).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# q252 — PPJoin at the FP-hostile threshold 0.9, TOKEN level. 0.9 is not
# binary-representable: a float ceil(t*|x|) prefix bound can land one too
# high and silently drop qualifying pairs (the round-4 advisor finding).
# ppjoin_pairs rationalizes the threshold (9/10) and computes every
# prefix/length/positional/verify bound in exact integer arithmetic; the
# oracle mirrors the rational compare (10*i >= 9*(la+lb-i)) over a
# brute-force pair join — fine at oracle scale, while the engine side
# stays prefix-filtered and pre-gated on identical sets (the corpus's
# shared 31-token vocabulary makes token sets maximally collision-heavy,
# exactly the stress the exact-dup pre-gate absorbs).
# ---------------------------------------------------------------------------
@register(
    "q252_ppjoin_high_threshold",
    oracle=f"""
    WITH t AS (SELECT doc_id, list_distinct({TOKS_SQL}) AS s FROM documents
               WHERE doc_id % 10 = 0 AND len(list_distinct({TOKS_SQL})) > 0),
    p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS i,
                 len(a.s) AS la, len(b.s) AS lb
          FROM t a JOIN t b ON a.doc_id < b.doc_id)
    SELECT id_a, id_b, ROUND(CAST(i AS DOUBLE) / (la + lb - i), 6) AS jaccard
    FROM p WHERE 10 * i >= 9 * (la + lb - i)
    ORDER BY id_a, id_b
    """,
)
def q252_ppjoin_high_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Deterministic 10% slice: token sets over the synthetic corpus's
    # 31-token vocabulary are mostly near-identical, so the TRUE answer
    # is quadratic in corpus size (~1M pairs at sf0.1 unsliced) — the
    # entry demonstrates rational-threshold exactness, not volume; q237
    # carries the scale story on discriminative shingle sets.
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 10 == 0)
        .select("doc_id", F.array_distinct(tokens("text")).alias("s"))
    )
    return D.ppjoin_pairs(docs, "doc_id", "s", threshold=0.9).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# q36 — dedup applied: materialize the deduplicated corpus (keep-first)
# ---------------------------------------------------------------------------
@register(
    "q36_dedup_apply",
    oracle=f"""
    WITH u AS (SELECT doc_id, text FROM documents
               UNION ALL SELECT doc_id + 10000, text FROM documents),
    survivors AS (
      SELECT MIN(doc_id) AS doc_id
      FROM u GROUP BY md5({NORM_SQL}))
    SELECT u.doc_id, strlen(u.text) AS n_bytes
    FROM u JOIN survivors s ON u.doc_id = s.doc_id
    """,
)
def q36_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    doubled = docs.unionAll(docs.select((F.col("doc_id") + 10000).alias("doc_id"), "text"))
    survivors = D.exact_dedup_groups(doubled, "doc_id", "text").select(
        F.col("survivor_id").alias("doc_id")
    )
    # keep-first realization: semi-join the corpus to its survivor ids
    return doubled.join(survivors, "doc_id", "left_semi").select(
        "doc_id", F.length(F.encode("text", "UTF-8")).cast("bigint").alias("n_bytes")
    )


# ---------------------------------------------------------------------------
# q186 — asymmetric containment on the LSH candidate pairs (catches
# quote/subset duplication that symmetric Jaccard under-scores): for
# each q32 candidate pair, containment_a = |A∩B|/|A| and the mirror for
# B, flagged when either side >= 0.8. Reuses the exact q32/q33 banding
# machinery (operators.dedup) — same single bucket shuffle, two id-keyed
# shingle joins for the verify.
# ---------------------------------------------------------------------------
@register(
    "q186_containment_pairs",
    oracle=f"""
    {LSH_PAIRS_CTE}
    SELECT id_a, id_b,
           ROUND(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                 / CAST(len(sa.sh) AS DOUBLE), 4) AS containment_a,
           ROUND(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                 / CAST(len(sb.sh) AS DOUBLE), 4) AS containment_b,
           (CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
              / CAST(len(sa.sh) AS DOUBLE) >= 0.8
            OR CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
              / CAST(len(sb.sh) AS DOUBLE) >= 0.8) AS contained
    FROM pairs JOIN s sa ON sa.doc_id = id_a JOIN s sb ON sb.doc_id = id_b
    """,
)
def q186_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sh = D.doc_shingles(docs, "doc_id", "text", 3)
    cand = lsh_pairs(sh)
    sa = sh.select(F.col("doc_id").alias("id_a"), F.col("shingles").alias("__sa"))
    sb = sh.select(F.col("doc_id").alias("id_b"), F.col("shingles").alias("__sb"))
    inter = F.size(F.array_intersect("__sa", "__sb")).cast("double")
    ca = inter / F.size("__sa").cast("double")
    cb = inter / F.size("__sb").cast("double")
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(ca, 4).alias("containment_a"),
            F.round(cb, 4).alias("containment_b"),
            ((ca >= 0.8) | (cb >= 0.8)).alias("contained"),
        )
    )


# ---------------------------------------------------------------------------
# q199 — dedup with BEST-quality survivor selection (the curation-aware
# ending of the dedup story: q32 candidates -> q78 clusters -> keep the
# highest-quality member instead of q90's min-id convention): for every
# multi-member near-dup cluster, the keeper is argmax by (q42's rounded
# quality score, then min doc_id) — ROUNDED quality feeds the ordering
# so both engines rank identically. Reuses the exact banding/cluster
# machinery (operators.dedup) and the q42 quality formula; the quality
# join touches only clustered docs (candidate-pair nodes), not the
# whole corpus.
# ---------------------------------------------------------------------------
@register(
    "q199_dedup_keep_best",
    oracle=f"""
    {COMPONENTS_CTE},
    comp AS (
      SELECT node, {CLUSTER_ID_SQL} AS cluster_id
      FROM reach GROUP BY node),
    quality AS (
      SELECT doc_id,
             ROUND(0.5 * least(CAST(len(tk) AS DOUBLE) / 100.0, 1.0)
                   + 0.5 * least((CAST(len(list_filter(tk, x -> list_contains({STOP_SQL}, x))) AS DOUBLE)
                                  / CAST(len(tk) AS DOUBLE)) * 10.0, 1.0), 4) AS quality
      FROM t),
    ranked AS (
      SELECT c.cluster_id, c.node, q.quality,
             ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                                ORDER BY q.quality DESC, c.node ASC) AS rn
      FROM comp c JOIN quality q ON c.node = q.doc_id)
    SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(MAX(CASE WHEN rn = 1 THEN node END) AS BIGINT) AS kept_doc_id,
           MAX(CASE WHEN rn = 1 THEN quality END) AS kept_quality
    FROM ranked GROUP BY cluster_id
    HAVING COUNT(*) >= 2
    """,
)
def q199_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:

    docs = load_table(spark, sf_dir, "documents")
    clusters = lsh_clusters(docs)  # (node, cluster_id)
    tk = docs.select("doc_id", tokens("text").alias("tk"))
    n_tokens = F.size("tk")
    nstop = F.size(F.filter(F.col("tk"), lambda t: t.isin(*STOPWORDS)))
    quality = F.round(
        F.lit(0.5) * F.least(n_tokens.cast("double") / F.lit(100.0), F.lit(1.0))
        + F.lit(0.5)
        * F.least((nstop.cast("double") / n_tokens.cast("double")) * F.lit(10.0), F.lit(1.0)),
        4,
    )
    q = tk.select("doc_id", quality.alias("quality"))
    members = clusters.join(q, clusters.node == q.doc_id).select(
        "cluster_id", "node", "quality"
    )
    w = Window.partitionBy("cluster_id").orderBy(F.desc("quality"), F.asc("node"))
    ranked = members.withColumn("rn", F.row_number().over(w))
    return (
        ranked.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.max(F.when(F.col("rn") == 1, F.col("node"))).cast("bigint").alias("kept_doc_id"),
            F.max(F.when(F.col("rn") == 1, F.col("quality"))).alias("kept_quality"),
        )
        .filter(F.col("n_members") >= 2)
    )


# ---------------------------------------------------------------------------
# q222 — duplicate rate by source (the curation decision table the
# dedup family feeds: which ingestion source is worth its storage):
# per source, exact-content-hash (md5, q31's spec) duplicate counts —
# docs whose text also appears elsewhere IN THE SAME SOURCE vs
# cross-source collisions. Two aggregates over the hash frame.
# ---------------------------------------------------------------------------
@register(
    "q222_dup_rate_by_source",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, source,
             md5({NORM_SQL}) AS ch
      FROM documents),
    within AS (
      SELECT source, ch, COUNT(*) AS n FROM h GROUP BY source, ch),
    global_h AS (SELECT ch, COUNT(DISTINCT source) AS n_sources FROM h GROUP BY ch)
    SELECT w.source,
           CAST(SUM(w.n) AS BIGINT) AS n_docs,
           CAST(SUM(w.n - 1) AS BIGINT) AS n_within_dups,
           ROUND(CAST(SUM(w.n - 1) AS DOUBLE) / SUM(w.n), 6) AS within_dup_rate,
           CAST(SUM(CASE WHEN g.n_sources > 1 THEN w.n ELSE 0 END) AS BIGINT) AS n_cross_source
    FROM within w JOIN global_h g ON w.ch = g.ch
    GROUP BY w.source
    """,
)
def q222_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    h = docs.select("doc_id", "source", md5_hex(normalize_text(F.col("text"))).alias("ch"))
    within = h.groupBy("source", "ch").agg(F.count(F.lit(1)).alias("n"))
    global_h = h.groupBy("ch").agg(F.countDistinct("source").alias("n_sources"))
    return (
        within.join(global_h, "ch")
        .groupBy("source")
        .agg(
            F.sum("n").cast("bigint").alias("n_docs"),
            F.sum(F.col("n") - 1).cast("bigint").alias("n_within_dups"),
            F.round(F.sum(F.col("n") - 1).cast("double") / F.sum("n"), 6).alias("within_dup_rate"),
            F.sum(F.when(F.col("n_sources") > 1, F.col("n")).otherwise(0)).cast("bigint").alias("n_cross_source"),
        )
    )


# ---------------------------------------------------------------------------
# q229 — cross-source near-duplication matrix (who copies whom; the
# pairwise drill-down of q222): q32's LSH candidate pairs joined to
# their documents' sources, canonicalized (least/greatest) and counted
# per source pair — exact-hash dups never cross sources in this corpus,
# so the matrix is built on the NEAR-dup candidate graph, which does.
# Reuses the banding machinery: one bucket shuffle + two id-keyed
# source joins.
# ---------------------------------------------------------------------------
@register(
    "q229_source_overlap",
    oracle=f"""
    {LSH_PAIRS_CTE},
    src AS (SELECT doc_id, source FROM documents)
    SELECT least(sa.source, sb.source) AS source_a,
           greatest(sa.source, sb.source) AS source_b,
           CAST(COUNT(*) AS BIGINT) AS n_neardup_pairs
    FROM pairs JOIN src sa ON pairs.id_a = sa.doc_id
               JOIN src sb ON pairs.id_b = sb.doc_id
    WHERE sa.source != sb.source
    GROUP BY source_a, source_b
    """,
)
def q229_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sh = D.doc_shingles(docs, "doc_id", "text", n=3)
    pairs = lsh_pairs(sh)
    sa = docs.select(F.col("doc_id").alias("id_a"), F.col("source").alias("sa"))
    sb = docs.select(F.col("doc_id").alias("id_b"), F.col("source").alias("sb"))
    return (
        pairs.join(F.broadcast(sa), "id_a")
        .join(F.broadcast(sb), "id_b")
        .filter(F.col("sa") != F.col("sb"))
        .groupBy(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_neardup_pairs"))
    )


# ---------------------------------------------------------------------------
# q233 — near-dup cluster size histogram (the shape-of-duplication
# readout over q78's connected components): cluster sizes (singletons
# excluded — they never entered a pair) bucketed, with member totals.
# The recursive-CTE oracle mirrors the iterative min-label clusters.
# ---------------------------------------------------------------------------
@register(
    "q233_cluster_size_histogram",
    oracle=f"""
    {COMPONENTS_CTE},
    comp AS (
      SELECT node, {CLUSTER_ID_SQL} AS cluster_id
      FROM reach GROUP BY node),
    sizes AS (SELECT cluster_id, COUNT(*) AS size FROM comp GROUP BY cluster_id)
    SELECT CAST(size AS BIGINT) AS size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(COUNT(*) * size AS BIGINT) AS n_members
    FROM sizes GROUP BY size
    """,
)
def q233_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:

    clusters = lsh_clusters(load_table(spark, sf_dir, "documents"))
    sizes = clusters.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("size"))
    return sizes.groupBy("size").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
        (F.count(F.lit(1)) * F.col("size")).cast("bigint").alias("n_members"),
    ).select(F.col("size").cast("bigint").alias("size"), "n_clusters", "n_members")


# ---------------------------------------------------------------------------
# q358 — MinHash LSH band-configuration audit (the S-curve tuning step
# every LSH dedup deployment runs before picking b×r): for each
# candidate config, the detection probability 1 - (1 - s^r)^b over the
# OBSERVED 3-shingle Jaccard distribution of a deterministic pair
# sample (adjacent doc_ids — an unbiased, coordination-free probe of
# the corpus's similarity profile). Reports, per config, the
# mean detection probability and how many sampled pairs clear p >= 0.5
# — the numbers that decide which (bands, rows) q32/q38 should run
# with at the corpus's actual similarity profile.
#
# Determinism: s is an exact integer-ratio double; the S-curve is
# GENERATED as an explicit multiplication chain (s*s*...*s), never
# pow() (libm-dependent); per-pair p is ROUND(.,8) → DECIMAL(18,8)
# before the exact cross-pair mean.
#
# Shape (100 TB): the pair sample joins on doc_id+1 — key-co-
# partitioned equi-join, one shuffle, |docs| pairs max (never
# all-pairs); the 4-config explode is row-local; final agg is 4 rows.
# ---------------------------------------------------------------------------
_SC_CONFIGS = ((2, 8), (4, 4), (8, 2), (16, 1))  # (bands, rows_per_band)


def _schain(base: str, k: int) -> str:
    return "(" + " * ".join([base] * k) + ")" if k > 1 else base


def _scurve_case(s_col: str, bands_col: str) -> str:
    """CASE over configs: 1 - (1 - s^r)^b as explicit product chains."""
    whens = []
    for b_, r_ in _SC_CONFIGS:
        sr = _schain(s_col, r_)
        whens.append(
            f"WHEN {bands_col} = {b_} THEN 1 - " + _schain(f"(1 - {sr})", b_)
        )
    return "CASE " + " ".join(whens) + " END"


_SC_VALUES = ", ".join(f"({b_}, {r_})" for b_, r_ in _SC_CONFIGS)


@register(
    "q358_lsh_s_curve_audit",
    oracle=f"""
    WITH t AS (
      SELECT source, doc_id,
             {TOKS_SQL} AS tk
      FROM documents),
    g AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(tk) - 1), i ->
               tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])) AS gr
      FROM t WHERE len(tk) >= 3),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(len(list_intersect(a.gr, b.gr)) AS DOUBLE)
               / len(list_distinct(list_concat(a.gr, b.gr))) AS s
      FROM g a JOIN g b ON b.doc_id = a.doc_id + 1),
    curves AS (
      SELECT c.bands, c.rpb, p.s,
             CAST(ROUND({_scurve_case("p.s", "c.bands")}, 8)
                  AS DECIMAL(18,8)) AS detect_p
      FROM pairs p, (VALUES {_SC_VALUES}) AS c(bands, rpb))
    SELECT CAST(bands AS INT) AS bands, CAST(rpb AS INT) AS rows_per_band,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(CAST(SUM(detect_p) AS DOUBLE) / COUNT(*), 6) AS avg_detect_p,
           CAST(COUNT(*) FILTER (WHERE CAST(detect_p AS DOUBLE) >= 0.5) AS BIGINT)
             AS n_detectable
    FROM curves GROUP BY bands, rpb ORDER BY bands
    """,
)
def q358_lsh_s_curve_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("tk")
    )
    g = t.filter(F.size("tk") >= 3).select(
        "doc_id",
        F.expr(
            "array_distinct(transform(sequence(1, size(tk) - 2), i -> "
            "concat_ws(' ', element_at(tk, CAST(i AS INT)), "
            "element_at(tk, CAST(i + 1 AS INT)), element_at(tk, CAST(i + 2 AS INT)))))"
        ).alias("gr"),
    )
    a = g.select(F.col("doc_id").alias("id_a"), F.col("gr").alias("ga"))
    b = g.select(
        (F.col("doc_id") - 1).alias("id_a"),
        F.col("doc_id").alias("id_b"),
        F.col("gr").alias("gb"),
    )
    pairs = a.join(b, ["id_a"]).select(
        "id_a",
        "id_b",
        (
            F.size(F.array_intersect("ga", "gb")).cast("double")
            / F.size(F.array_union("ga", "gb"))
        ).alias("s"),
    )
    cfg = F.explode(
        F.array(*[F.struct(F.lit(b_).alias("bands"), F.lit(r_).alias("rpb"))
                  for b_, r_ in _SC_CONFIGS])
    )
    # per-config S-curve as an explicit multiplication chain (no pow)
    curves = (
        pairs.select("s", cfg.alias("c"))
        .select(
            F.col("c.bands").alias("bands"),
            F.col("c.rpb").alias("rows_per_band"),
            "s",
        )
        .select(
            "bands",
            "rows_per_band",
            F.expr(
                f"CAST(ROUND({_scurve_case('s', 'bands')}, 8) AS DECIMAL(18,8))"
            ).alias("detect_p"),
        )
    )
    return (
        curves.groupBy("bands", "rows_per_band")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.round(
                F.sum("detect_p").cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_detect_p"),
            F.count_if(F.col("detect_p").cast("double") >= 0.5)
            .cast("bigint")
            .alias("n_detectable"),
        )
        .orderBy("bands")
    )
