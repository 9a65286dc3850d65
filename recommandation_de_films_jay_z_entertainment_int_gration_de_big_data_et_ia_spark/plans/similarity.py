"""Similarity-search query catalog over ``embeddings`` (array<float>[64]).

The DuckDB oracles mirror the engine's float math exactly: elementwise
double products folded left-to-right (``F.aggregate`` ↔ ``list_reduce``),
IEEE sqrt/divide with identical parenthesization — bit-identical scores.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import TOKS_SQL
from ..operators import similarity as SIM
from ..operators.similarity import cosine
from ..sources.readers import load_table
from .catalog import register
from .search import _BM25_TERMS, _bm25_term_sql


def _dot_sql(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(range(1, len({a})+1),"
        f" i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (x, y) -> x + y)"
    )


def _cos_sql(a: str, b: str) -> str:
    return f"({_dot_sql(a, b)} / (sqrt({_dot_sql(a, a)}) * sqrt({_dot_sql(b, b)})))"


def _bucket_sql(v: str, planes: int = 4, table: int = 0) -> str:
    bits = []
    for p in range(planes):
        plane_id = table * planes + p
        term = (
            f"list_reduce(list_transform(range(1, len({v})+1),"
            f" i -> CAST({v}[i] AS DOUBLE) * (CASE WHEN ((i-1) * {plane_id + 3}) % 7 < 4"
            f" THEN 1.0 ELSE -1.0 END)), (x, y) -> x + y)"
        )
        bits.append(f"CASE WHEN {term} >= 0 THEN '1' ELSE '0' END")
    return " || ".join(bits)


# ---------------------------------------------------------------------------
# Brute-force exact cosine top-k (the baseline)
# ---------------------------------------------------------------------------
@register(
    "q37_embedding_cosine_topk",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
    SELECT vec_id, ROUND({_cos_sql('v', 'qv')}, 4) AS score
    FROM e CROSS JOIN q
    WHERE vec_id != 0
    ORDER BY score DESC, vec_id ASC
    LIMIT 10
    """,
)
def q37_embedding_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.cosine_topk(emb, "vec_id", "embedding", target_id=0, k=10)


# ---------------------------------------------------------------------------
# LSH-bucketed ANN top-k (the scale path)
# ---------------------------------------------------------------------------
@register(
    "q38_embedding_ann_lsh",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
    b AS (SELECT vec_id, v, {_bucket_sql('v', table=0)} AS b0, {_bucket_sql('v', table=1)} AS b1 FROM e),
    q AS (SELECT v AS qv, b0 AS qb0, b1 AS qb1 FROM b WHERE vec_id = 0)
    SELECT vec_id, ROUND({_cos_sql('v', 'qv')}, 4) AS score
    FROM b CROSS JOIN q
    WHERE (b0 = qb0 OR b1 = qb1) AND vec_id != 0
    ORDER BY score DESC, vec_id ASC
    LIMIT 5
    """,
)
def q38_embedding_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.cosine_topk_lsh(emb, "vec_id", "embedding", target_id=0, k=5, planes=4, tables=2)


# ---------------------------------------------------------------------------
# IVF-bucketed ANN top-k (inverted-file counterpart to q38's LSH path)
# ---------------------------------------------------------------------------
_IVF_ASSIGN_SQL = f"""
    e AS (SELECT vec_id, embedding AS v FROM embeddings),
    c0 AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 8),
    c AS (SELECT cid, cv, sqrt({_dot_sql('cv', 'cv')}) AS cn,
          ROW_NUMBER() OVER (ORDER BY cid) AS cell FROM c0),
    assign AS (
      SELECT vec_id, v, cell,
             ROW_NUMBER() OVER (PARTITION BY vec_id
               ORDER BY {_dot_sql('v', 'cv')} / cn DESC, cell ASC) AS rn
      FROM e CROSS JOIN c),
    a AS (SELECT vec_id, v, cell FROM assign WHERE rn = 1)
"""


@register(
    "q82_embedding_ann_ivf",
    oracle=f"""
    WITH {_IVF_ASSIGN_SQL},
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
    qprobe AS (
      SELECT cell FROM c CROSS JOIN q
      ORDER BY {_dot_sql('qv', 'cv')} / cn DESC, cell ASC LIMIT 2)
    SELECT vec_id, ROUND({_cos_sql('v', 'qv')}, 4) AS score
    FROM a CROSS JOIN q
    WHERE a.cell IN (SELECT cell FROM qprobe) AND vec_id != 0
    ORDER BY score DESC, vec_id ASC
    LIMIT 10
    """,
)
def q82_embedding_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.cosine_topk_ivf(
        emb, "vec_id", "embedding", target_id=0, k=10, nlist=8, nprobe=2
    )


# ---------------------------------------------------------------------------
# IVF cell histogram — index-balance audit (skewed cells = slow probes)
# ---------------------------------------------------------------------------
@register(
    "q83_ivf_cells",
    oracle=f"""
    WITH {_IVF_ASSIGN_SQL}
    SELECT CAST(cell AS BIGINT) AS cell, CAST(COUNT(*) AS BIGINT) AS n
    FROM a GROUP BY cell ORDER BY cell
    """,
)
def q83_ivf_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        SIM.ivf_index(emb, "vec_id", "embedding", nlist=8)
        .groupBy(F.col("__cell").cast("bigint").alias("cell"))
        .agg(F.count("*").alias("n"))
        .orderBy("cell")
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-duplicate pairs (LSH bucket join + threshold).
# max_bucket=300 mega-bucket guard (measured: max organic bucket is 254
# at sf0.1, 63 at sf0.01 — no drops at any correctness/bench scale; on
# the 10×-replicated sf1 rehearsal every bucket crosses the cap, which
# is the designed duplication stress, see PERF.md sf1 table).
# ---------------------------------------------------------------------------
_NEARDUP_MAX_BUCKET = 300


def _neardup_keep_sql() -> str:
    return (
        f"bs AS (SELECT bucket FROM b GROUP BY bucket"
        f" HAVING COUNT(*) <= {_NEARDUP_MAX_BUCKET}),"
        " bk AS (SELECT b.* FROM b JOIN bs USING (bucket))"
    )


@register(
    "q39_embedding_neardup",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
    b AS (SELECT vec_id, v, {_bucket_sql('v')} AS bucket FROM e),
    {_neardup_keep_sql()},
    pairs AS (
      SELECT a.vec_id AS id_a, b2.vec_id AS id_b, a.v AS va, b2.v AS vb
      FROM bk a JOIN bk b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id)
    SELECT id_a, id_b, score FROM (
      SELECT id_a, id_b, ROUND({_cos_sql('va', 'vb')}, 4) AS score FROM pairs)
    WHERE score >= 0.3
    """,
)
def q39_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.embedding_neardup_pairs(
        emb, "vec_id", "embedding", threshold=0.3, planes=4, max_bucket=_NEARDUP_MAX_BUCKET
    )


# ---------------------------------------------------------------------------
# Batched ANN: top-k for a whole query batch in ONE pass (bucket equi-join
# + per-query window re-rank) — amortizes the per-query broadcast/scan of
# q38 across the batch; the shape a 100 TB corpus needs.
# ---------------------------------------------------------------------------
@register(
    "q85_ann_batch",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
    b AS (SELECT vec_id, v, sqrt({_dot_sql('v', 'v')}) AS nrm,
                 {_bucket_sql('v', table=0)} AS b0, {_bucket_sql('v', table=1)} AS b1 FROM e),
    q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn, b0 AS qb0, b1 AS qb1
          FROM b WHERE vec_id IN (0, 1, 2, 3, 4)),
    pairs AS (
      SELECT DISTINCT q.qid, b.vec_id FROM b CROSS JOIN q
      WHERE (b.b0 = q.qb0 OR b.b1 = q.qb1) AND b.vec_id != q.qid),
    scored AS (
      SELECT p.qid, p.vec_id,
             ROUND({_dot_sql('c.v', 'q.qv')} / (c.nrm * q.qn), 4) AS score
      FROM pairs p JOIN b c ON p.vec_id = c.vec_id JOIN q ON p.qid = q.qid)
    SELECT qid, vec_id, score, CAST(rn AS BIGINT) AS rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, vec_id ASC) AS rn
      FROM scored)
    WHERE rn <= 3
    ORDER BY qid, rank
    """,
)
def q85_ann_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.cosine_topk_lsh_batch(
        emb, "vec_id", "embedding", target_ids=[0, 1, 2, 3, 4], k=3, planes=4, tables=2
    )


# ---------------------------------------------------------------------------
# q105 — hybrid retrieval with reciprocal-rank fusion: BM25 top-100 and
# embedding-cosine top-100 (vs doc 0's vector; doc_id == vec_id in the
# fixture) fused by RRF(k0=60) = sum over lists of 1/(k0 + rank). The
# standard lexical+dense fusion — rank-based, so no cross-list score
# normalization. Scale shape: each list is a TakeOrderedAndProject
# top-k; ranks and the fusion join touch only the 100-row lists (a
# full-corpus global-rank window would be the single-partition
# anti-pattern). Absent-from-list contributes 0 (truncated-list RRF).
# ---------------------------------------------------------------------------
_RRF_K0, _RRF_DEPTH = 60, 100


@register(
    "q105_hybrid_retrieval_rrf",
    oracle=f"""
    WITH dd AS (SELECT doc_id, {TOKS_SQL} AS toks, len({TOKS_SQL}) AS dl
                FROM documents WHERE doc_id != 0),
    stats AS (
      SELECT COUNT(*) AS n, SUM(dl) AS sumdl,
             {', '.join(f"SUM(CASE WHEN list_contains(toks, '{t}') THEN 1 ELSE 0 END) AS df{i}" for i, t in enumerate(_BM25_TERMS))}
      FROM dd),
    scored AS (
      SELECT doc_id,
             ROUND(({' + '.join(_bm25_term_sql(t, i) for i, t in enumerate(_BM25_TERMS))}) * 1.0, 4) AS score
      FROM dd CROSS JOIN stats),
    pb AS (SELECT doc_id, score FROM scored ORDER BY score DESC, doc_id ASC LIMIT {_RRF_DEPTH}),
    rb AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS r FROM pb),
    e AS (SELECT vec_id, embedding AS v FROM embeddings WHERE vec_id != 0),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    cs AS (SELECT vec_id AS doc_id, ROUND({_cos_sql('v', 'qv')}, 4) AS cscore
           FROM e CROSS JOIN q),
    pc AS (SELECT doc_id, cscore FROM cs ORDER BY cscore DESC, doc_id ASC LIMIT {_RRF_DEPTH}),
    rc AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY cscore DESC, doc_id ASC) AS r FROM pc)
    SELECT COALESCE(rb.doc_id, rc.doc_id) AS doc_id,
           ROUND(COALESCE(1.0 / ({_RRF_K0} + rb.r), 0) + COALESCE(1.0 / ({_RRF_K0} + rc.r), 0), 6) AS rrf_score
    FROM rb FULL OUTER JOIN rc ON rb.doc_id = rc.doc_id
    ORDER BY rrf_score DESC, doc_id ASC LIMIT 10
    """,
)
def q105_hybrid_retrieval_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators import search as SRCH

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") != 0)
    emb = load_table(spark, sf_dir, "embeddings")
    pb = (
        SRCH.bm25_score(docs, "text", list(_BM25_TERMS))
        .select("doc_id", "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(_RRF_DEPTH)
    )
    rb = pb.withColumn(
        "r", F.row_number().over(Window.orderBy(F.desc("score"), F.asc("doc_id")))
    ).select("doc_id", F.col("r").alias("rb"))
    target = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("__qv"))
    pc = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(target))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(cosine(F.col("embedding"), F.col("__qv")), 4).alias("cscore"),
        )
        .orderBy(F.desc("cscore"), F.asc("doc_id"))
        .limit(_RRF_DEPTH)
    )
    rc = pc.withColumn(
        "r", F.row_number().over(Window.orderBy(F.desc("cscore"), F.asc("doc_id")))
    ).select("doc_id", F.col("r").alias("rc"))
    fused = rb.join(rc, "doc_id", "full_outer").select(
        "doc_id",
        F.round(
            F.coalesce(F.lit(1.0) / (F.lit(_RRF_K0) + F.col("rb")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(_RRF_K0) + F.col("rc")), F.lit(0.0)),
            6,
        ).alias("rrf_score"),
    )
    return fused.orderBy(F.desc("rrf_score"), F.asc("doc_id")).limit(10)


# ---------------------------------------------------------------------------
# q117 — semantic dedup (SemDeDup-style): embedding-cosine near-dup pairs
# (the q39 LSH-bucketed graph) resolved into connected components, each
# vector labeled with its cluster keeper (min vec_id) and a keep flag.
# Vectors in no pair are their own singleton cluster. The oracle replays
# the transitive closure with a recursive CTE (q78's pattern on the
# embedding graph).
#
# Shape (100 TB): pair generation is the bucket equi-join (never
# all-pairs); component resolution is iterative min-label propagation
# whose rounds = cluster diameter (near-dup clusters are shallow);
# the final left join back to the corpus is on vec_id. The corpus is
# scanned once for bucketing and once for the final labeling join.
# ---------------------------------------------------------------------------
_SEMDEDUP_THRESHOLD = 0.3


@register(
    "q117_semantic_dedup",
    oracle=f"""
    WITH RECURSIVE e AS (SELECT vec_id, embedding AS v FROM embeddings),
    b AS (SELECT vec_id, v, {_bucket_sql('v')} AS bucket FROM e),
    {_neardup_keep_sql()},
    cand AS (
      SELECT a.vec_id AS id_a, b2.vec_id AS id_b, a.v AS va, b2.v AS vb
      FROM bk a JOIN bk b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id),
    pairs AS (
      SELECT id_a, id_b FROM (
        SELECT id_a, id_b, ROUND({_cos_sql('va', 'vb')}, 4) AS score FROM cand)
      WHERE score >= {_SEMDEDUP_THRESHOLD}),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION SELECT id_b, id_a FROM pairs),
    reach AS (
      SELECT a AS node, b AS reachable FROM edges
      UNION
      SELECT r.node, e2.b FROM reach r JOIN edges e2 ON r.reachable = e2.a),
    labels AS (
      SELECT node, LEAST(node, MIN(reachable)) AS cluster_id
      FROM reach GROUP BY node)
    SELECT e.vec_id, COALESCE(l.cluster_id, e.vec_id) AS cluster_id,
           (COALESCE(l.cluster_id, e.vec_id) = e.vec_id) AS keep
    FROM e LEFT JOIN labels l ON e.vec_id = l.node
    """,
)
def q117_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import dedup_clusters

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = SIM.embedding_neardup_pairs(
        emb,
        "vec_id",
        "embedding",
        threshold=_SEMDEDUP_THRESHOLD,
        planes=4,
        max_bucket=_NEARDUP_MAX_BUCKET,
    )
    labels = dedup_clusters(pairs)
    return (
        emb.select("vec_id")
        .join(labels, emb["vec_id"] == labels["node"], "left")
        .select(
            "vec_id",
            F.coalesce("cluster_id", "vec_id").alias("cluster_id"),
            (F.coalesce("cluster_id", "vec_id") == F.col("vec_id")).alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# q138 — seeded fixed-iteration k-means over the embedding corpus (the
# document-clustering primitive a curation pipeline uses for diversity
# sampling / SemDeDup cluster priors). Deterministic end-to-end, so it
# carries an EXACT oracle like q126's PageRank:
#   - init: centroids = the vectors of the k smallest vec_ids (seeded,
#     engine-agnostic);
#   - assign: argmin squared-L2, folded per element IN ARRAY ORDER in
#     double (identical fold both engines), ties -> smallest cluster id;
#   - update: per-dimension means via exact DECIMAL(18,6) sums of
#     6-rounded components (order-independent across partitions /
#     engines), divided back into double;
#   - 2 Lloyd rounds, then a final assignment reports cluster sizes,
#     inertia (decimal sum of 6-rounded distances), and the first two
#     centroid coordinates.
# 100 TB: each round is one broadcast of k·d doubles into the corpus
# scan + one (cluster, dim) shuffle of decimal partial sums — the
# canonical map-side-combine shape; no driver round-trips, k and the
# iteration count are plan constants.
# ---------------------------------------------------------------------------
_KM_K = 4
_KM_ITERS = 2


def _km_dist_sql(v: str, c: str) -> str:
    return (
        f"list_reduce(list_prepend(0.0, list_transform(range(1, len({v})+1),"
        f" i -> (CAST({v}[i] AS DOUBLE) - {c}[i]) * (CAST({v}[i] AS DOUBLE) - {c}[i]))),"
        f" (x, y) -> x + y)"
    )


def _km_oracle() -> str:
    # e: corpus with double vectors; cent0: seeded initial centroids
    parts = [f"""
    e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
          FROM embeddings),
    cent0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, vd AS c
              FROM e WHERE vec_id < {_KM_K})
    """]
    for it in range(_KM_ITERS):
        parts.append(f"""
    d{it} AS (
      SELECT e.vec_id, e.vd, c.cid, {_km_dist_sql('e.vd', 'c.c')} AS dist
      FROM e CROSS JOIN cent{it} c),
    a{it} AS (
      SELECT vec_id, vd, cid FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d{it})
      WHERE rn = 1),
    s{it} AS (
      SELECT cid, u.s.pos AS pos,
             SUM(CAST(ROUND(u.s.x, 6) AS DECIMAL(18,6))) AS sx,
             COUNT(*) AS n
      FROM a{it}, UNNEST(list_transform(range(1, len(vd)+1),
                         i -> struct_pack(pos := i, x := vd[i]))) AS u(s)
      GROUP BY cid, u.s.pos),
    cent{it + 1} AS (
      SELECT cid, list(CAST(sx AS DOUBLE) / n ORDER BY pos) AS c
      FROM s{it} GROUP BY cid)
    """)
    final = f"""
    df AS (
      SELECT e.vec_id, c.cid, {_km_dist_sql('e.vd', 'c.c')} AS dist
      FROM e CROSS JOIN cent{_KM_ITERS} c),
    af AS (
      SELECT vec_id, cid, dist FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM df)
      WHERE rn = 1)
    SELECT a.cid AS cluster_id,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CAST(SUM(CAST(ROUND(a.dist, 6) AS DECIMAL(18,6))) AS DOUBLE), 6) AS inertia,
           ROUND(MIN(c.c[1]), 6) AS c0,
           ROUND(MIN(c.c[2]), 6) AS c1
    FROM af a JOIN cent{_KM_ITERS} c ON a.cid = c.cid
    GROUP BY a.cid
    """
    return "WITH " + ",".join(parts) + "," + final


@register("q138_kmeans_embeddings", oracle=_km_oracle())
def q138_kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("vd")
    )
    w_seed = Window.orderBy("vec_id")
    cent = (
        e.filter(F.col("vec_id") < _KM_K)
        .select((F.row_number().over(w_seed) - 1).cast("int").alias("cid"), F.col("vd").alias("c"))
    )

    def dist_col():
        return F.aggregate(
            F.zip_with("vd", "c", lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    w_min = Window.partitionBy("vec_id").orderBy("dist", "cid")
    for _ in range(_KM_ITERS):
        assigned = (
            e.crossJoin(F.broadcast(cent))
            .withColumn("dist", dist_col())
            .withColumn("rn", F.row_number().over(w_min))
            .filter(F.col("rn") == 1)
            .select("vec_id", "vd", "cid")
        )
        sums = (
            assigned.select("cid", F.posexplode("vd").alias("pos0", "x"))
            .groupBy("cid", "pos0")
            .agg(
                F.sum(F.round("x", 6).cast("decimal(18,6)")).alias("sx"),
                F.count(F.lit(1)).alias("n"),
            )
        )
        cent = (
            sums.select(
                "cid", "pos0", (F.col("sx").cast("double") / F.col("n")).alias("m")
            )
            .groupBy("cid")
            .agg(F.array_sort(F.collect_list(F.struct("pos0", "m"))).alias("pm"))
            .select("cid", F.transform("pm", lambda s: s["m"]).alias("c"))
        )
    final = (
        e.crossJoin(F.broadcast(cent))
        .withColumn("dist", dist_col())
        .withColumn("rn", F.row_number().over(w_min))
        .filter(F.col("rn") == 1)
        .groupBy(F.col("cid").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(
                F.sum(F.round("dist", 6).cast("decimal(18,6)")).cast("double"), 6
            ).alias("inertia"),
        )
    )
    coords = cent.select(
        F.col("cid").alias("cluster_id"),
        F.round(F.element_at("c", 1), 6).alias("c0"),
        F.round(F.element_at("c", 2), 6).alias("c1"),
    )
    return final.join(F.broadcast(coords), "cluster_id")


# ---------------------------------------------------------------------------
# q148/q149 — product quantization (PQ), the ANN technique that makes
# billion-vector search affordable: split each 64-d vector into m=4
# 16-d subspaces, learn a tiny per-subspace codebook (k=4 centroids,
# q138's seeded-init + one Lloyd refinement + exact-decimal means), and
# store each vector as m uint8 codes. Queries then scan CODES with a
# broadcast lookup table of query↔centroid distances (ADC) instead of
# touching raw vectors.
#
# Determinism (cross-engine exact, q138's discipline): seeded init =
# the subspace slices of the k smallest vec_ids; distances are
# left-to-right double folds (F.aggregate ↔ list_reduce); centroid
# updates are DECIMAL(18,6) sums of 6-rounded components; argmin ties
# break on smallest code id; the ADC sum is a decimal sum of 6-rounded
# LUT entries.
#
# Shape (100 TB): codebooks are k·m·(d/m) doubles — broadcast
# everywhere; encoding is one corpus scan + a (subspace, code, dim)
# partial-sum shuffle per Lloyd round; the ADC query scan reads ONLY
# the (vec_id, codes) table (m bytes/vector instead of 4·d) and sums m
# broadcast-LUT entries per row — no vector math at query time.
# ---------------------------------------------------------------------------
_PQ_M = 4  # subspaces
_PQ_SUB = 16  # dims per subspace (m * sub = 64)
_PQ_K = 4  # codes per subspace


def _pq_sub_sql(v: str, s: int) -> str:
    return f"list_transform({v}[{s * _PQ_SUB + 1}:{s * _PQ_SUB + _PQ_SUB}], x -> CAST(x AS DOUBLE))"


def _pq_dist_sql(a: str, b: str) -> str:
    return (
        f"list_reduce(list_prepend(0.0, list_transform(range(1, len({a})+1),"
        f" i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))), (x, y) -> x + y)"
    )


def _pq_codebook_sql() -> str:
    """CTE chain: sub (vec slices) → cent0 (seeded) → a0 (assign) →
    cent (refined decimal-mean codebook) → code (final encoding)."""
    subs = " UNION ALL ".join(
        f"SELECT vec_id, {s} AS s, {_pq_sub_sql('embedding', s)} AS sv FROM embeddings"
        for s in range(_PQ_M)
    )
    return f"""
    sub AS ({subs}),
    cent0 AS (
      SELECT s, CAST(ROW_NUMBER() OVER (PARTITION BY s ORDER BY vec_id) - 1 AS INT) AS cid,
             sv AS c
      FROM sub WHERE vec_id < {_PQ_K}),
    d0 AS (
      SELECT sub.vec_id, sub.s, sub.sv, c.cid, {_pq_dist_sql('sub.sv', 'c.c')} AS dist
      FROM sub JOIN cent0 c ON sub.s = c.s),
    a0 AS (
      SELECT vec_id, s, sv, cid FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY dist, cid) AS rn FROM d0)
      WHERE rn = 1),
    sums AS (
      SELECT s, cid, u.e.pos AS pos,
             SUM(CAST(ROUND(u.e.x, 6) AS DECIMAL(18,6))) AS sx, COUNT(*) AS n
      FROM a0, UNNEST(list_transform(range(1, len(sv)+1),
                      i -> struct_pack(pos := i, x := sv[i]))) AS u(e)
      GROUP BY s, cid, u.e.pos),
    cent AS (
      SELECT s, cid, list(CAST(sx AS DOUBLE) / n ORDER BY pos) AS c
      FROM sums GROUP BY s, cid),
    dc AS (
      SELECT sub.vec_id, sub.s, c.cid, {_pq_dist_sql('sub.sv', 'c.c')} AS dist
      FROM sub JOIN cent c ON sub.s = c.s),
    code AS (
      SELECT vec_id, s, cid FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY dist, cid) AS rn FROM dc)
      WHERE rn = 1)
    """


@register(
    "q148_pq_codebook",
    oracle=f"""
    WITH {_pq_codebook_sql()}
    SELECT code.s AS subspace, code.cid AS code_id,
           CAST(COUNT(*) AS BIGINT) AS n, ROUND(MIN(c.c[1]), 6) AS c0
    FROM code JOIN cent c ON code.s = c.s AND code.cid = c.cid
    GROUP BY code.s, code.cid
    """,
)
def q148_pq_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    code, cent = _pq_encode(spark, sf_dir)
    return (
        code.groupBy(F.col("s").alias("subspace"), F.col("cid").alias("code_id"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .join(
            F.broadcast(
                cent.select(
                    F.col("s").alias("subspace"),
                    F.col("cid").alias("code_id"),
                    F.round(F.element_at("c", 1), 6).alias("c0"),
                )
            ),
            ["subspace", "code_id"],
        )
        .select("subspace", "code_id", "n", "c0")
    )


@register(
    "q149_pq_adc_topk",
    oracle=f"""
    WITH {_pq_codebook_sql()},
    q AS (SELECT s, sv AS qv FROM sub WHERE vec_id = 0),
    lut AS (
      SELECT c.s, c.cid,
             CAST(ROUND({_pq_dist_sql('q.qv', 'c.c')}, 6) AS DECIMAL(18,6)) AS d
      FROM cent c JOIN q ON c.s = q.s),
    adc AS (
      SELECT code.vec_id, SUM(lut.d) AS dist
      FROM code JOIN lut ON code.s = lut.s AND code.cid = lut.cid
      WHERE code.vec_id != 0
      GROUP BY code.vec_id)
    SELECT vec_id, ROUND(CAST(dist AS DOUBLE), 6) AS adc_dist
    FROM adc ORDER BY dist ASC, vec_id ASC LIMIT 10
    """,
)
def q149_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    code, cent = _pq_encode(spark, sf_dir)
    sub = _pq_sub_frame(spark, sf_dir)
    qv = sub.filter(F.col("vec_id") == 0).select("s", F.col("sv").alias("qv"))
    lut = (
        cent.join(F.broadcast(qv), "s")
        .select(
            "s", "cid", F.round(_pq_dist(F.col("qv"), F.col("c")), 6).cast("decimal(18,6)").alias("d")
        )
    )
    adc = (
        code.filter(F.col("vec_id") != 0)
        .join(F.broadcast(lut), ["s", "cid"])
        .groupBy("vec_id")
        .agg(F.sum("d").alias("dist"))
    )
    return (
        adc.orderBy(F.col("dist").asc(), F.col("vec_id").asc())
        .limit(10)
        .select("vec_id", F.round(F.col("dist").cast("double"), 6).alias("adc_dist"))
    )


def _pq_dist(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)), F.lit(0.0), lambda acc, x: acc + x
    )


def _pq_sub_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pq_sub_frame_df(load_table(spark, sf_dir, "embeddings"))


def pq_sub_frame_df(emb: DataFrame) -> DataFrame:
    slices = F.array(
        *[
            F.transform(
                F.slice("embedding", s * _PQ_SUB + 1, _PQ_SUB), lambda x: x.cast("double")
            )
            for s in range(_PQ_M)
        ]
    )
    return emb.select("vec_id", F.posexplode(slices).alias("s", "sv"))


def _pq_encode(spark: SparkSession, sf_dir: str):
    return pq_encode_df(_pq_sub_frame(spark, sf_dir))


def pq_encode_df(sub: DataFrame):
    """Returns (code, cent): final (vec_id, s, cid) encoding and the
    refined per-subspace codebook (s, cid, c). ``sub`` is the
    (vec_id, s, sv) subspace frame from :func:`pq_sub_frame_df`.

    r11 plan surgery (values bit-identical to the window formulation the
    DuckDB oracle mirrors):
    - assignment is an expression-level argmin against the codebook
      folded into ONE broadcast nested-array row, instead of a
      sub x cents join + row_number window — the window cost a full
      (vec_id, s) shuffle AND sort of the k-times-expanded frame, twice
      (a0 and the final code). Ties resolve to the FIRST array position
      = the smallest cid, exactly the old (dist, cid) window order; the
      id array keeps original cids so a code that loses all members
      can never renumber its survivors.
    - the decimal mean update is one partial-aggregatable shuffle with
      the position unrolled statically (decimal sums are exact, hence
      order-independent), instead of posexplode -> groupBy(s,cid,pos)
      -> collect_list re-nest (two shuffles + a sort).
    """
    from pyspark.sql import Window

    from ..functions.plan import with_once

    w_seed = Window.partitionBy("s").orderBy("vec_id")
    cent0 = sub.filter(F.col("vec_id") < _PQ_K).select(
        "s", (F.row_number().over(w_seed) - 1).cast("int").alias("cid"), F.col("sv").alias("c")
    )

    def _nest(cent: DataFrame) -> DataFrame:
        """(s, cid, c) -> one row: ids[s][j] = cid, cs[s][j] = c, both
        cid-ascending within s, s-ascending outer."""
        per_s = cent.groupBy("s").agg(
            F.array_sort(F.collect_list(F.struct("cid", "c"))).alias("e")
        )
        return per_s.agg(
            F.array_sort(F.collect_list(F.struct("s", "e"))).alias("o")
        ).select(
            F.transform("o", lambda o: F.transform(o["e"], lambda x: x["cid"])).alias("__ids"),
            F.transform("o", lambda o: F.transform(o["e"], lambda x: x["c"])).alias("__cs"),
        )

    def assign(cent: DataFrame) -> DataFrame:
        with_c = sub.crossJoin(F.broadcast(_nest(cent)))
        dists = F.transform(
            F.element_at("__cs", F.col("s") + 1), lambda cv: _pq_dist(F.col("sv"), cv)
        )
        with_d = with_once(with_c, "__d", dists)
        return with_d.select(
            "vec_id",
            "s",
            "sv",
            F.element_at(
                F.element_at("__ids", F.col("s") + 1),
                F.array_position("__d", F.array_min("__d")).cast("int"),
            ).alias("cid"),
        )

    a0 = assign(cent0)
    sums = a0.groupBy("s", "cid").agg(
        *[
            F.sum(F.round(F.col("sv")[i], 6).cast("decimal(18,6)")).alias(f"__sx{i}")
            for i in range(_PQ_SUB)
        ],
        F.count(F.lit(1)).alias("n"),
    )
    cent = sums.select(
        "s",
        "cid",
        F.array(
            *[(F.col(f"__sx{i}").cast("double") / F.col("n")) for i in range(_PQ_SUB)]
        ).alias("c"),
    )
    # r12 (VERDICT task 2): cent is <= m*kcodes tiny rows but its
    # lineage is a FULL corpus pass (a0's assign + the mean-update
    # shuffle), and every consumer re-evaluated it — code's
    # broadcast(_nest(cent)) build AND each caller's own cent use
    # (q148's broadcast join, q149/q234's LUT) each re-ran a0, so one
    # q148 execution paid that pass up to 3x (overlapped on the
    # broadcast thread pool locally; 3 real corpus passes on a
    # saturated cluster). The lazy pin materializes 16 rows inside the
    # first broadcast build; every later consumer reads them back.
    # Decided by INTERLEAVED same-session A/B (cross-window minima on
    # this host swing +-20-40% at zero steal, so only paired runs
    # count): q148 1.91 -> 1.78 min, q234 3.91 -> 3.40, q149 flat
    # (2.93/2.93). The r11 driver-window q148 min/median spread
    # (3.75/10.03) did not reproduce locally (min/median 1.67/1.74
    # quiet) — environmental, but the pin removes the structural 3x
    # replay that amplified it.
    cent = cent.localCheckpoint(eager=False)
    code = assign(cent).select("vec_id", "s", "cid")
    return code, cent


# ---------------------------------------------------------------------------
# Two-stage retrieval: PQ-ADC coarse candidates -> exact cosine re-rank.
# The canonical IVF-PQ serving pattern (Jégou et al., "Product
# Quantization for Nearest Neighbor Search"): stage 1 scans only the
# compact code table (M uint8 codes per vector) against a broadcast
# per-query LUT, keeps the 100 best ADC candidates; stage 2 touches the
# FULL float vectors for those 100 ids only, re-ranking by exact cosine.
# At 100 TB the full-vector table is never scanned per query — the
# re-rank join is a broadcast semi-probe of 100 keys.
# ---------------------------------------------------------------------------
_TSA_CAND = 100


@register(
    "q234_two_stage_ann",
    oracle=f"""
    WITH {_pq_codebook_sql()},
    q AS (SELECT s, sv AS qv FROM sub WHERE vec_id = 0),
    lut AS (
      SELECT c.s, c.cid,
             CAST(ROUND({_pq_dist_sql('q.qv', 'c.c')}, 6) AS DECIMAL(18,6)) AS d
      FROM cent c JOIN q ON c.s = q.s),
    adc AS (
      SELECT code.vec_id, SUM(lut.d) AS dist
      FROM code JOIN lut ON code.s = lut.s AND code.cid = lut.cid
      WHERE code.vec_id != 0
      GROUP BY code.vec_id),
    cand AS (
      SELECT vec_id, dist FROM adc ORDER BY dist ASC, vec_id ASC LIMIT {_TSA_CAND}),
    e AS (SELECT vec_id, embedding AS v FROM embeddings),
    qe AS (SELECT v AS qv FROM e WHERE vec_id = 0)
    SELECT c.vec_id,
           ROUND(CAST(c.dist AS DOUBLE), 6) AS adc_dist,
           ROUND({_cos_sql('e.v', 'qe.qv')}, 4) AS score
    FROM cand c JOIN e ON e.vec_id = c.vec_id CROSS JOIN qe
    ORDER BY score DESC, c.vec_id ASC
    LIMIT 10
    """,
)
def q234_two_stage_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    code, cent = _pq_encode(spark, sf_dir)
    sub = _pq_sub_frame(spark, sf_dir)
    qv = sub.filter(F.col("vec_id") == 0).select("s", F.col("sv").alias("qv"))
    lut = cent.join(F.broadcast(qv), "s").select(
        "s", "cid", F.round(_pq_dist(F.col("qv"), F.col("c")), 6).cast("decimal(18,6)").alias("d")
    )
    cand = (
        code.filter(F.col("vec_id") != 0)
        .join(F.broadcast(lut), ["s", "cid"])
        .groupBy("vec_id")
        .agg(F.sum("d").alias("dist"))
        .orderBy(F.col("dist").asc(), F.col("vec_id").asc())
        .limit(_TSA_CAND)
    )
    emb = load_table(spark, sf_dir, "embeddings")
    from ..operators.similarity import query_vector

    q = query_vector(emb, "vec_id", "embedding", target_id=0)
    from ..operators.similarity import dot as _dot, norm as _norm

    return (
        emb.join(F.broadcast(cand), "vec_id")
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(F.col("dist").cast("double"), 6).alias("adc_dist"),
            F.round(
                _dot(F.col("embedding"), F.col("__qvec"))
                / (_norm(F.col("embedding")) * F.col("__qnorm")),
                4,
            ).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col("vec_id").asc())
        .limit(10)
    )


# ---------------------------------------------------------------------------
# q280 — hard-negative mining (contrastive-training data prep: for each
# anchor, the most-similar vectors of a DIFFERENT label — "close but
# wrong" examples that make the best negatives for two-tower/BPR
# training). Same LSH-bucketed batch machinery as q85 — candidates come
# from the (table, bucket) equi-join, never all pairs — plus the
# label-exclusion predicate applied on the bucket join's broadcast
# anchor attributes, BEFORE exact re-ranking. Top-3 per anchor,
# rank-deterministic (rounded score DESC, vec_id ASC).
#
# Shape (100 TB): identical to q85's (the predicate rides the existing
# broadcast join, filtering candidates before the cosine stage); the
# label filter *reduces* work downstream of the bucket join.
# ---------------------------------------------------------------------------
_HN_ANCHORS = (0, 1, 2, 3, 4, 5, 6, 7)


@register(
    "q280_hard_negatives",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, embedding AS v FROM embeddings),
    b AS (SELECT vec_id, label, v, sqrt({_dot_sql('v', 'v')}) AS nrm,
                 {_bucket_sql('v', table=0)} AS b0, {_bucket_sql('v', table=1)} AS b1 FROM e),
    q AS (SELECT vec_id AS qid, label AS qlabel, v AS qv, nrm AS qn, b0 AS qb0, b1 AS qb1
          FROM b WHERE vec_id IN {_HN_ANCHORS}),
    pairs AS (
      SELECT DISTINCT q.qid, b.vec_id FROM b CROSS JOIN q
      WHERE (b.b0 = q.qb0 OR b.b1 = q.qb1) AND b.vec_id != q.qid
        AND b.label != q.qlabel),
    scored AS (
      SELECT p.qid, p.vec_id,
             ROUND({_dot_sql('c.v', 'q.qv')} / (c.nrm * q.qn), 4) AS score
      FROM pairs p JOIN b c ON p.vec_id = c.vec_id JOIN q ON p.qid = q.qid)
    SELECT qid, vec_id, score, CAST(rn AS BIGINT) AS rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, vec_id ASC) AS rn
      FROM scored)
    WHERE rn <= 3
    ORDER BY qid, rank
    """,
)
def q280_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.cosine_topk_lsh_batch(
        emb, "vec_id", "embedding", target_ids=list(_HN_ANCHORS), k=3,
        planes=4, tables=2, exclude_same="label",
    )


# ---------------------------------------------------------------------------
# q286 — triplet mining (anchor, positive, hard negative): the full
# contrastive-training data-prep composition — per anchor, the
# most-similar SAME-label vector (positive) and the most-similar
# DIFFERENT-label vector (hard negative), with the triplet margin
# (pos_score - neg_score; negative margin = the triplets that actually
# teach the model something). Both sides come from the same
# LSH-bucketed batch machinery (q280's candidates, one `require_same` /
# one `exclude_same` pass); anchors with no same-label bucket collision
# drop out (LEFT-side inner join), exactly as a production miner skips
# unpairable anchors.
#
# Shape (100 TB): two bucket-join passes over the same frame, each
# q85-shaped; the final assembly joins two 8-row top-1 frames.
# ---------------------------------------------------------------------------
@register(
    "q286_triplet_mining",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, embedding AS v FROM embeddings),
    b AS (SELECT vec_id, label, v, sqrt({_dot_sql('v', 'v')}) AS nrm,
                 {_bucket_sql('v', table=0)} AS b0, {_bucket_sql('v', table=1)} AS b1 FROM e),
    q AS (SELECT vec_id AS qid, label AS qlabel, v AS qv, nrm AS qn, b0 AS qb0, b1 AS qb1
          FROM b WHERE vec_id IN {_HN_ANCHORS}),
    cand AS (
      SELECT DISTINCT q.qid, b.vec_id, (b.label = q.qlabel) AS same
      FROM b CROSS JOIN q
      WHERE (b.b0 = q.qb0 OR b.b1 = q.qb1) AND b.vec_id != q.qid),
    scored AS (
      SELECT p.qid, p.vec_id, p.same,
             ROUND({_dot_sql('c.v', 'q.qv')} / (c.nrm * q.qn), 4) AS score
      FROM cand p JOIN b c ON p.vec_id = c.vec_id JOIN q ON p.qid = q.qid),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY qid, same
                 ORDER BY score DESC, vec_id ASC) AS rn
      FROM scored),
    pos AS (SELECT qid, vec_id AS pos_id, score AS pos_score FROM ranked
            WHERE same AND rn = 1),
    neg AS (SELECT qid, vec_id AS neg_id, score AS neg_score FROM ranked
            WHERE NOT same AND rn = 1)
    SELECT p.qid, p.pos_id, p.pos_score, n.neg_id, n.neg_score,
           ROUND(p.pos_score - n.neg_score, 4) AS margin
    FROM pos p JOIN neg n ON p.qid = n.qid
    ORDER BY p.qid
    """,
)
def q286_triplet_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    pos = SIM.cosine_topk_lsh_batch(
        emb, "vec_id", "embedding", target_ids=list(_HN_ANCHORS), k=1,
        planes=4, tables=2, require_same="label",
    ).select(
        "qid",
        F.col("vec_id").alias("pos_id"),
        F.col("score").alias("pos_score"),
    )
    neg = SIM.cosine_topk_lsh_batch(
        emb, "vec_id", "embedding", target_ids=list(_HN_ANCHORS), k=1,
        planes=4, tables=2, exclude_same="label",
    ).select(
        "qid",
        F.col("vec_id").alias("neg_id"),
        F.col("score").alias("neg_score"),
    )
    return (
        pos.join(neg, "qid")
        .select(
            "qid",
            "pos_id",
            "pos_score",
            "neg_id",
            "neg_score",
            F.round(F.col("pos_score") - F.col("neg_score"), 4).alias("margin"),
        )
        .orderBy("qid")
    )


# ---------------------------------------------------------------------------
# q287 — ANN recall audit (the index-quality monitor a production
# vector store runs continuously): for a panel of anchors, compare the
# LSH-bucketed top-5 (q85 machinery) against the exact brute-force
# top-5, and report per-anchor recall@5 = |ANN ∩ exact| / 5. The
# brute-force side IS the documented baseline — 8 anchors × corpus,
# scan-bound, the same shape as q37 batched; in production you run the
# audit on a sampled anchor panel, exactly this plan.
#
# Shape (100 TB): exact side one broadcast-anchor scan + per-anchor
# window top-5 (WindowGroupLimit); ANN side the q85 bucket join; the
# recall join touches two 40-row frames.
# ---------------------------------------------------------------------------
@register(
    "q287_ann_recall_audit",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
    b AS (SELECT vec_id, v, sqrt({_dot_sql('v', 'v')}) AS nrm,
                 {_bucket_sql('v', table=0)} AS b0, {_bucket_sql('v', table=1)} AS b1 FROM e),
    q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn, b0 AS qb0, b1 AS qb1
          FROM b WHERE vec_id IN {_HN_ANCHORS}),
    exact AS (
      SELECT qid, vec_id FROM (
        SELECT q.qid, c.vec_id,
               ROW_NUMBER() OVER (PARTITION BY q.qid
                 ORDER BY ROUND({_dot_sql('c.v', 'q.qv')} / (c.nrm * q.qn), 4) DESC,
                          c.vec_id ASC) AS rn
        FROM b c CROSS JOIN q WHERE c.vec_id != q.qid)
      WHERE rn <= 5),
    cand AS (
      SELECT DISTINCT q.qid, b.vec_id FROM b CROSS JOIN q
      WHERE (b.b0 = q.qb0 OR b.b1 = q.qb1) AND b.vec_id != q.qid),
    ann AS (
      SELECT qid, vec_id FROM (
        SELECT p.qid, p.vec_id,
               ROW_NUMBER() OVER (PARTITION BY p.qid
                 ORDER BY ROUND({_dot_sql('c.v', 'q.qv')} / (c.nrm * q.qn), 4) DESC,
                          p.vec_id ASC) AS rn
        FROM cand p JOIN b c ON p.vec_id = c.vec_id JOIN q ON p.qid = q.qid)
      WHERE rn <= 5)
    SELECT x.qid,
           CAST(COUNT(a.vec_id) AS BIGINT) AS n_hits,
           ROUND(CAST(COUNT(a.vec_id) AS DOUBLE) / 5, 4) AS recall_at_5
    FROM exact x LEFT JOIN ann a ON x.qid = a.qid AND x.vec_id = a.vec_id
    GROUP BY x.qid ORDER BY x.qid
    """,
)
def q287_ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    b = emb.select(
        "vec_id", "embedding", SIM.norm(F.col("embedding")).alias("nrm")
    )
    q = b.filter(F.col("vec_id").isin(list(_HN_ANCHORS))).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    scored = (
        b.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            F.round(
                SIM.dot(F.col("embedding"), F.col("qv"))
                / (F.col("nrm") * F.col("qn")),
                4,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("vec_id"))
    exact = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("qid", "vec_id")
    )
    ann = SIM.cosine_topk_lsh_batch(
        emb, "vec_id", "embedding", target_ids=list(_HN_ANCHORS), k=5,
        planes=4, tables=2,
    ).select("qid", "vec_id", F.lit(1).alias("hit"))
    return (
        exact.join(ann, ["qid", "vec_id"], "left")
        .groupBy("qid")
        .agg(
            F.count("hit").cast("bigint").alias("n_hits"),
            F.round(F.count("hit").cast("double") / 5, 4).alias("recall_at_5"),
        )
        .orderBy("qid")
    )


# ---------------------------------------------------------------------------
# q74 — vectorized Arrow scalar UDF (@pandas_udf): L2-normalize embeddings.
# The engine's second sanctioned Python boundary (besides mapInPandas) —
# Arrow-batched, numpy-vectorized, never per-row. Output rounded to 4 so
# numpy's pairwise summation and SQL's sequential fold agree.
# ---------------------------------------------------------------------------
@register(
    "q74_pandas_udf_normalize",
    oracle="""
    WITH e AS (SELECT vec_id, embedding AS v FROM embeddings WHERE vec_id < 100),
    n AS (SELECT vec_id, sqrt(list_reduce(list_transform(range(1, len(v)+1),
                 i -> CAST(v[i] AS DOUBLE) * CAST(v[i] AS DOUBLE)), (x, y) -> x + y)) AS nrm, v
          FROM e)
    SELECT vec_id,
           ROUND(CAST(v[1] AS DOUBLE) / nrm, 4) AS e0,
           ROUND(CAST(v[2] AS DOUBLE) / nrm, 4) AS e1,
           ROUND(nrm, 4) AS l2norm
    FROM n
    """,
)
def q74_pandas_udf_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _norm_head(v):
        arrs = np.stack([np.asarray(x, dtype="float64") for x in v])
        # sequential-fold norm to match the oracle's list_reduce exactly
        nrm = np.sqrt(np.add.reduce(arrs * arrs, axis=1))
        # raw values out; rounding happens in Spark (np.round is
        # half-even, SQL ROUND is half-away — a latent tie-flip)
        return pd.DataFrame(
            {"e0": arrs[:, 0] / nrm, "e1": arrs[:, 1] / nrm, "l2norm": nrm}
        )

    # Type-hint pandas UDF form (Series → DataFrame ≡ the old SCALAR
    # struct UDF, no deprecated PandasUDFType). Annotations are assigned
    # as REAL objects because `from __future__ import annotations`
    # stringifies inline hints and pd/np live in function scope, which
    # get_type_hints cannot resolve from module globals.
    _norm_head.__annotations__ = {"v": pd.Series, "return": pd.DataFrame}
    norm_head = pandas_udf(_norm_head, "struct<e0: double, e1: double, l2norm: double>")

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    out = emb.select("vec_id", norm_head("embedding").alias("s"))
    return out.select(
        "vec_id",
        F.round("s.e0", 4).alias("e0"),
        F.round("s.e1", 4).alias("e1"),
        F.round("s.l2norm", 4).alias("l2norm"),
    )


# ---------------------------------------------------------------------------
# q177 — int8 scalar quantization ANN (the memory-bound companion to
# the q148/q149 product-quantization path): per-dimension min/max over
# the corpus (one posexplode aggregate -> a broadcast 1-row stats
# frame; never a driver collect), each float quantized to one of 256
# levels, reconstructed at the level midpoint, and ranked by cosine
# against the FULL-precision query vector (asymmetric distance). The
# exact score rides along so the quantization error is visible per hit.
# At 100 TB the codes are 4x smaller than float32 and the stats frame
# is 64 doubles — the scan is the only distributed work.
# Determinism: floor/least/midpoint arithmetic is identically shaped in
# both engines; folds are array-ordered (operators.similarity.dot).
# ---------------------------------------------------------------------------
_SQ_RECON = (
    "list_transform(range(1, len(v)+1), i -> mins[i] +"
    " (least(floor((CAST(v[i] AS DOUBLE) - mins[i]) / (maxs[i] - mins[i]) * 256.0),"
    " 255.0) + 0.5) * (maxs[i] - mins[i]) / 256.0)"
)


@register(
    "q177_int8_quantized_ann",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
    d AS (SELECT i, MIN(CAST(v[i] AS DOUBLE)) AS mn, MAX(CAST(v[i] AS DOUBLE)) AS mx
          -- dim is fixed at 64 (embeddings schema); DuckDB's range() table
          -- function cannot take the lateral len(v)
          FROM e, range(1, 65) t(i) GROUP BY i),
    s AS (SELECT list(mn ORDER BY i) AS mins, list(mx ORDER BY i) AS maxs FROM d),
    r AS (SELECT vec_id, v, {_SQ_RECON} AS rv FROM e CROSS JOIN s),
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
    SELECT vec_id,
           ROUND({_cos_sql('rv', 'qv')}, 4) AS score_q,
           ROUND({_cos_sql('v', 'qv')}, 4) AS score_exact
    FROM r CROSS JOIN q
    WHERE vec_id != 0
    ORDER BY score_q DESC, vec_id ASC
    LIMIT 10
    """,
)
def q177_int8_quantized_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import dot, norm

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").alias("v")
    )
    stats = (
        emb.select(F.posexplode("v").alias("pos", "x"))
        .groupBy("pos")
        .agg(
            F.min(F.col("x").cast("double")).alias("mn"),
            F.max(F.col("x").cast("double")).alias("mx"),
        )
        .groupBy()
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "mn"))), lambda s: s.mn
            ).alias("mins"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "mx"))), lambda s: s.mx
            ).alias("maxs"),
        )
    )

    def _recon(v):  # mirrors _SQ_RECON
        def level(x, i):
            mn = F.element_at("mins", i + 1)
            mx = F.element_at("maxs", i + 1)
            code = F.least(
                F.floor((x.cast("double") - mn) / (mx - mn) * 256.0).cast("double"),
                F.lit(255.0),
            )
            return mn + (code + F.lit(0.5)) * (mx - mn) / 256.0

        return F.transform(v, level)

    r = emb.crossJoin(F.broadcast(stats)).withColumn("rv", _recon(F.col("v")))
    q = emb.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    return (
        r.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(dot(F.col("rv"), F.col("qv")) / (norm(F.col("rv")) * norm(F.col("qv"))), 4).alias("score_q"),
            F.round(dot(F.col("v"), F.col("qv")) / (norm(F.col("v")) * norm(F.col("qv"))), 4).alias("score_exact"),
        )
        .orderBy(F.desc("score_q"), F.asc("vec_id"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# q194 — embedding column profile (q112's column-profile idea lifted to
# array<float>): per-dimension min / max / mean / std in ONE posexplode
# aggregate (64 output rows regardless of corpus size; mean/std from
# exact decimal sums so both engines agree bit-for-bit), plus each
# dimension's zero-fraction — the pre-flight check before the q177
# quantizer or q138's k-means commits to a 100 TB corpus.
# ---------------------------------------------------------------------------
@register(
    "q194_embedding_profile",
    oracle="""
    WITH e AS (SELECT embedding AS v FROM embeddings),
    d AS (SELECT i AS dim, CAST(v[i] AS DOUBLE) AS x
          FROM e, range(1, 65) t(i)),
    s AS (
      SELECT dim, COUNT(*) AS n,
             MIN(x) AS mn, MAX(x) AS mx,
             CAST(SUM(CAST(x AS DECIMAL(18,9))) AS DOUBLE) AS sv,
             CAST(SUM(CAST(x AS DECIMAL(18,9)) * CAST(x AS DECIMAL(18,9))) AS DOUBLE) AS svv,
             SUM(CASE WHEN x = 0 THEN 1 ELSE 0 END) AS zeros
      FROM d GROUP BY dim)
    SELECT CAST(dim AS INT) AS dim, CAST(n AS BIGINT) AS n,
           ROUND(mn, 6) AS mn, ROUND(mx, 6) AS mx,
           ROUND(sv / n, 6) AS mean,
           ROUND(sqrt((svv - sv * sv / n) / (n - 1)), 6) AS std,
           ROUND(CAST(zeros AS DOUBLE) / n, 6) AS zero_frac
    FROM s
    """,
)
def q194_embedding_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    d = emb.select(F.posexplode("embedding").alias("pos", "xf")).select(
        (F.col("pos") + 1).alias("dim"), F.col("xf").cast("double").alias("x")
    )
    xd = F.col("x").cast("decimal(18,9)")
    s = d.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("x").alias("mn"),
        F.max("x").alias("mx"),
        F.sum(xd).cast("double").alias("sv"),
        F.sum(xd * xd).cast("double").alias("svv"),
        F.sum(F.when(F.col("x") == 0, 1).otherwise(0)).alias("zeros"),
    )
    return s.select(
        F.col("dim").cast("int").alias("dim"),
        F.col("n").cast("bigint").alias("n"),
        F.round("mn", 6).alias("mn"),
        F.round("mx", 6).alias("mx"),
        F.round(F.col("sv") / F.col("n"), 6).alias("mean"),
        F.round(F.sqrt((F.col("svv") - F.col("sv") * F.col("sv") / F.col("n")) / (F.col("n") - 1)), 6).alias("std"),
        F.round(F.col("zeros").cast("double") / F.col("n"), 6).alias("zero_frac"),
    )


# ---------------------------------------------------------------------------
# q221 — embedding cluster cohesion/separation by label (clustering
# eval over the labeled corpus; the readout q138's k-means lacks): per
# label, the centroid (per-dim decimal-exact means via one posexplode
# agg), mean member distance to OWN centroid (cohesion), and distance
# to the NEAREST other centroid (separation) — the Davies-Bouldin
# ingredients. Distances fold array-ordered (q177's discipline); the
# per-member distance terms go through rounded-decimal sums so the
# per-label mean is fold-order-proof. Centroid count is label-bounded:
# the centroid frame broadcasts everywhere.
# ---------------------------------------------------------------------------
@register(
    "q221_cluster_cohesion",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, embedding AS v FROM embeddings),
    d AS (SELECT label, i, AVG(CAST(v[i] AS DOUBLE)) AS m,
                 CAST(SUM(CAST(v[i] AS DECIMAL(18,9))) AS DOUBLE) AS sv,
                 COUNT(*) AS n
          FROM e, range(1, 65) t(i) GROUP BY label, i),
    c AS (SELECT label, list(sv / n ORDER BY i) AS centroid FROM d GROUP BY label),
    dist AS (
      SELECT e.vec_id, e.label AS mlabel, c.label AS clabel,
             sqrt(list_reduce(list_transform(range(1, 65),
               i -> (CAST(e.v[i] AS DOUBLE) - c.centroid[i]) * (CAST(e.v[i] AS DOUBLE) - c.centroid[i])),
               (x, y) -> x + y)) AS dd
      FROM e CROSS JOIN c),
    own AS (
      SELECT mlabel AS label,
             CAST(SUM(CAST(ROUND(dd, 12) AS DECIMAL(20,12))) AS DOUBLE) / COUNT(*) AS cohesion
      FROM dist WHERE mlabel = clabel GROUP BY mlabel),
    cent_pairs AS (
      SELECT a.label AS la, b.label AS lb,
             sqrt(list_reduce(list_transform(range(1, 65),
               i -> (a.centroid[i] - b.centroid[i]) * (a.centroid[i] - b.centroid[i])),
               (x, y) -> x + y)) AS cd
      FROM c a JOIN c b ON a.label != b.label),
    sep AS (SELECT la AS label, MIN(cd) AS separation FROM cent_pairs GROUP BY la)
    SELECT o.label, ROUND(o.cohesion, 6) AS cohesion,
           ROUND(s.separation, 6) AS separation,
           ROUND(o.cohesion / s.separation, 6) AS db_ratio
    FROM own o JOIN sep s ON o.label = s.label
    """,
)
def q221_cluster_cohesion(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label", F.col("embedding").alias("v"))
    d = (
        emb.select("label", F.posexplode("v").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(F.sum(F.col("x").cast("decimal(18,9)")).cast("double").alias("sv"), F.count(F.lit(1)).alias("n"))
    )
    c = d.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", (F.col("sv") / F.col("n")).alias("m")))),
            lambda s: s.m,
        ).alias("centroid")
    )
    cc = F.broadcast(c.select(F.col("label").alias("clabel"), "centroid"))
    diff_sq = F.zip_with(
        F.col("v"), F.col("centroid"), lambda a, b: (a.cast("double") - b) * (a.cast("double") - b)
    )
    dd = F.sqrt(F.aggregate(diff_sq, F.lit(0.0), lambda acc, x: acc + x))
    dist = emb.crossJoin(cc).select(
        F.col("label").alias("mlabel"), "clabel", dd.alias("dd")
    )
    own = (
        dist.filter(F.col("mlabel") == F.col("clabel"))
        .select(F.col("mlabel").alias("label"), F.round("dd", 12).cast("decimal(20,12)").alias("t"))
        .groupBy("label")
        .agg((F.sum("t").cast("double") / F.count(F.lit(1))).alias("cohesion"))
    )
    a = c.select(F.col("label").alias("la"), F.col("centroid").alias("ca"))
    b = c.select(F.col("label").alias("lb"), F.col("centroid").alias("cb"))
    cdiff = F.zip_with(F.col("ca"), F.col("cb"), lambda x, y: (x - y) * (x - y))
    cd = F.sqrt(F.aggregate(cdiff, F.lit(0.0), lambda acc, x: acc + x))
    sep = (
        a.join(F.broadcast(b), F.col("la") != F.col("lb"))
        .select(F.col("la").alias("label"), cd.alias("cd"))
        .groupBy("label")
        .agg(F.min("cd").alias("separation"))
    )
    return own.join(sep, "label").select(
        "label",
        F.round("cohesion", 6).alias("cohesion"),
        F.round("separation", 6).alias("separation"),
        F.round(F.col("cohesion") / F.col("separation"), 6).alias("db_ratio"),
    )


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
           ROUND({_dot_sql("v", "qv")}
                 / (sqrt({_dot_sql("v", "v")}) * sqrt({_dot_sql("qv", "qv")})),
                 6) AS cos
    FROM e CROSS JOIN q
    WHERE vec_id != {_SQ_PROBE}
    ORDER BY hamming, vec_id LIMIT 20
    """,
)
def q321_sign_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
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
             MAX(ROUND({_dot_sql("e.embedding", "q.qv")}
                 / (sqrt({_dot_sql("e.embedding", "e.embedding")})
                    * sqrt({_dot_sql("q.qv", "q.qv")})), 6)) AS best
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
           ROUND({_dot_sql("e.embedding", "q.qv")}
                 / (sqrt({_dot_sql("e.embedding", "e.embedding")})
                    * sqrt({_dot_sql("q.qv", "q.qv")})), 6) AS score
    FROM embeddings e CROSS JOIN q
    WHERE e.label != q.qlabel
    ORDER BY score DESC, e.vec_id LIMIT 10
    """,
)
def q342_filtered_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
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


@register(
    "q364_ivf_balance_audit",
    oracle=f"""
    WITH {_IVF_ASSIGN_SQL},
    h AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n FROM a GROUP BY cell)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(SUM(n) AS BIGINT) AS n_vecs,
           CAST(MIN(n) AS BIGINT) AS min_cell,
           CAST(MAX(n) AS BIGINT) AS max_cell,
           ROUND(CAST(MAX(n) AS DOUBLE) * COUNT(*) / SUM(n), 4)
             AS imbalance_factor,
           ROUND(sqrt((CAST(SUM(n * n) AS DOUBLE)
                       - CAST(SUM(n) AS DOUBLE) * SUM(n) / COUNT(*)) / COUNT(*))
                 / (CAST(SUM(n) AS DOUBLE) / COUNT(*)), 6) AS cv
    FROM h
    """,
)
def q364_ivf_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    h = (
        SIM.ivf_index(emb, "vec_id", "embedding", nlist=8)
        .groupBy("__cell")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    k = F.count(F.lit(1))
    sum_n = F.sum("n")
    sum_n2 = F.sum(F.col("n") * F.col("n"))
    mean = sum_n.cast("double") / k
    return h.agg(
        k.cast("bigint").alias("n_cells"),
        sum_n.cast("bigint").alias("n_vecs"),
        F.min("n").cast("bigint").alias("min_cell"),
        F.max("n").cast("bigint").alias("max_cell"),
        F.round(F.max("n").cast("double") * k / sum_n, 4).alias("imbalance_factor"),
        F.round(
            F.sqrt((sum_n2.cast("double") - sum_n.cast("double") * sum_n / k) / k)
            / mean,
            6,
        ).alias("cv"),
    )


@register(
    "q365_metric_divergence",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
    scored AS (
      SELECT vec_id,
             ROUND({_cos_sql("v", "qv")}, 6) AS cos_s,
             ROUND({_dot_sql("v", "qv")}, 6) AS dot_s
      FROM e CROSS JOIN q WHERE vec_id != 0),
    tc AS (SELECT vec_id, cos_s FROM scored ORDER BY cos_s DESC, vec_id LIMIT 10),
    td AS (SELECT vec_id, dot_s FROM scored ORDER BY dot_s DESC, vec_id LIMIT 10),
    c1 AS (SELECT vec_id FROM tc ORDER BY cos_s DESC, vec_id LIMIT 1),
    d1 AS (SELECT vec_id FROM td ORDER BY dot_s DESC, vec_id LIMIT 1)
    SELECT CAST((SELECT COUNT(*) FROM tc JOIN td ON tc.vec_id = td.vec_id)
                AS BIGINT) AS n_common,
           ROUND(CAST((SELECT COUNT(*) FROM tc JOIN td ON tc.vec_id = td.vec_id)
                      AS DOUBLE)
                 / (20 - (SELECT COUNT(*) FROM tc JOIN td
                          ON tc.vec_id = td.vec_id)), 4) AS jaccard,
           (SELECT vec_id FROM c1) = (SELECT vec_id FROM d1) AS top1_same
    """,
)
def q365_metric_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import dot

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").alias("v")
    )
    q = emb.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    scored = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(cosine(F.col("v"), F.col("qv")), 6).alias("cos_s"),
            F.round(dot(F.col("v"), F.col("qv")), 6).alias("dot_s"),
        )
    )
    tc = scored.orderBy(F.desc("cos_s"), F.asc("vec_id")).limit(10)
    td = scored.orderBy(F.desc("dot_s"), F.asc("vec_id")).limit(10)
    common = tc.join(td, "vec_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_common")
    )
    c1 = tc.orderBy(F.desc("cos_s"), F.asc("vec_id")).limit(1).select(
        F.col("vec_id").alias("c1")
    )
    d1 = td.orderBy(F.desc("dot_s"), F.asc("vec_id")).limit(1).select(
        F.col("vec_id").alias("d1")
    )
    return (
        common.crossJoin(F.broadcast(c1))
        .crossJoin(F.broadcast(d1))
        .select(
            "n_common",
            F.round(
                F.col("n_common").cast("double") / (20 - F.col("n_common")), 4
            ).alias("jaccard"),
            (F.col("c1") == F.col("d1")).alias("top1_same"),
        )
    )


# ---------------------------------------------------------------------------
# q380 — embedding isotropy audit (the "are my embeddings collapsing"
# pre-training check — Ethayarajh 2019-style): per label, the mean
# cosine of each vector to its label CENTROID. Near-1 means the label
# cluster has collapsed to a ray (anisotropic); the audit flags
# representation collapse before a retrieval model ships. Centroids
# are exact: per-dimension DECIMAL sums over ROUND(x,6) components,
# divided once and rounded to 8 — both engines fold the same numbers
# in the same order (explicit dim-sorted list rebuild).
#
# Shape (100 TB): one posexplode (64 rows/vec, scan-local) + one
# (label, dim)-keyed map-combinable aggregate; the |labels|-row
# centroid frame broadcast-joins back; per-row cosine is a JVM-side
# ordered fold; final |labels|-group aggregate. Nothing all-pairs —
# isotropy via centroid needs only two passes.
# ---------------------------------------------------------------------------


@register(
    "q380_embedding_isotropy",
    oracle="""
    WITH dims AS (
      SELECT label, u.d AS d,
             CAST(ROUND(CAST(embedding[u.d] AS DOUBLE), 6)
                  AS DECIMAL(18,6)) AS x
      FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(d)),
    cent AS (
      SELECT label, d,
             ROUND(CAST(SUM(x) AS DOUBLE) / COUNT(*), 8) AS c
      FROM dims GROUP BY label, d),
    carr AS (
      SELECT label, list(c ORDER BY d) AS cv FROM cent GROUP BY label),
    cos AS (
      SELECT e.label,
             CAST(ROUND(
               list_reduce(list_transform(range(1, len(e.embedding) + 1),
                 i -> CAST(e.embedding[i] AS DOUBLE) * carr.cv[i]),
                 (x, y) -> x + y)
               / (sqrt(list_reduce(list_transform(range(1, len(e.embedding) + 1),
                    i -> CAST(e.embedding[i] AS DOUBLE)
                         * CAST(e.embedding[i] AS DOUBLE)), (x, y) -> x + y))
                  * sqrt(list_reduce(list_transform(range(1, len(carr.cv) + 1),
                      i -> carr.cv[i] * carr.cv[i]), (x, y) -> x + y))),
               6) AS DECIMAL(18,6)) AS cc
      FROM embeddings e JOIN carr ON e.label = carr.label)
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           ROUND(CAST(SUM(cc) AS DOUBLE) / COUNT(*), 6) AS mean_centroid_cos
    FROM cos GROUP BY label ORDER BY label
    """,
)
def q380_embedding_isotropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings").select("label", "embedding")
    dims = e.select(
        "label", F.posexplode("embedding").alias("d0", "x0")
    ).select(
        "label",
        (F.col("d0") + 1).alias("d"),
        F.round(F.col("x0").cast("double"), 6).cast("decimal(18,6)").alias("x"),
    )
    cent = dims.groupBy("label", "d").agg(
        F.round(F.sum("x").cast("double") / F.count(F.lit(1)), 8).alias("c")
    )
    carr = cent.groupBy("label").agg(
        F.expr("transform(sort_array(collect_list(struct(d, c))), s -> s.c)")
        .alias("cv")
    )
    cos = e.join(F.broadcast(carr), "label").select(
        "label",
        F.round(cosine(F.col("embedding"), F.col("cv")), 6)
        .cast("decimal(18,6)")
        .alias("cc"),
    )
    return (
        cos.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            F.round(F.sum("cc").cast("double") / F.count(F.lit(1)), 6).alias(
                "mean_centroid_cos"
            ),
        )
        .orderBy("label")
    )
