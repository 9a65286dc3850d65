"""Vector similarity search over ``array<float>`` embedding columns.

Scale design (the 100 TB posture):
- the query side is always a 1-row broadcast — the corpus never shuffles;
- brute-force cosine top-k is a single scan + TakeOrderedAndProject
  (the exact baseline);
- the LSH variant buckets vectors by deterministic hyperplane sign
  patterns so candidate generation is a bucket-equality join — the
  standard sub-linear ANN path when the corpus is too big to scan per
  query batch.

Determinism: all float math is a left-fold in doubles over the array
order (``F.aggregate``), which the DuckDB oracle mirrors with
``list_reduce`` — bit-identical results, no UDFs anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Deterministic dot product: elementwise double products folded in
    array order."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def query_vector(df: DataFrame, id_col: str, vec_col: str, target_id) -> DataFrame:
    """1-row frame holding the query vector and its norm (broadcast by
    consumers — the norm is computed once here, not per candidate row)."""
    return df.filter(F.col(id_col) == F.lit(target_id)).select(
        F.col(vec_col).alias("__qvec"), norm(F.col(vec_col)).alias("__qnorm")
    )


def _query_cosine_topk(
    cand: DataFrame, id_col: str, vec_col: str, k: int
) -> DataFrame:
    """Rank ``cand`` (rows carrying the broadcast ``__qvec`` / ``__qnorm``
    query row) by cosine to the query rounded to 4: the top ``k`` by
    score desc, id asc — ``orderBy().limit()`` compiles to
    TakeOrderedAndProject, no global sort."""
    score = F.round(
        dot(F.col(vec_col), F.col("__qvec")) / (norm(F.col(vec_col)) * F.col("__qnorm")), 4
    )
    return cand.select(id_col, score.alias("score")).orderBy(
        F.desc("score"), F.asc(id_col)
    ).limit(k)


def cosine_topk(
    df: DataFrame, id_col: str, vec_col: str, target_id, k: int = 10
) -> DataFrame:
    """Brute-force exact cosine top-k vs one stored vector (the baseline).

    Single scan; ``orderBy().limit()`` compiles to TakeOrderedAndProject
    (per-partition heaps, driver merges k rows) — no global sort. The
    query-side norm rides in the broadcast row (1 fold instead of 2 per
    candidate); the same double math as the oracle, just not repeated.
    """
    q = query_vector(df, id_col, vec_col, target_id)
    cand = df.filter(F.col(id_col) != F.lit(target_id)).crossJoin(F.broadcast(q))
    return _query_cosine_topk(cand, id_col, vec_col, k)


def hyperplane_bucket(vec_col: Column, planes: int = 4, table: int = 0) -> Column:
    """Deterministic random-hyperplane LSH bucket id (sign-pattern string).

    Plane p has ±1 components h_p[d] = +1 iff (d*(p+3)) mod 7 < 4 — a
    fixed integer pattern both engines reproduce exactly (no RNG, no trig).
    Same-bucket vectors are angular-similar with the usual SimHash-LSH
    guarantee; more planes → smaller buckets. ``table`` offsets the plane
    ids so independent hash tables can be built for multi-probe recall.
    """
    bits = []
    for p in range(planes):
        signed = F.transform(
            vec_col,
            _plane_term(table * planes + p),
        )
        s = F.aggregate(signed, F.lit(0.0), lambda acc, x: acc + x)
        bits.append(F.when(s >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def _plane_term(p: int):
    return lambda x, i: x.cast("double") * F.when(((i * (p + 3)) % 7) < 4, F.lit(1.0)).otherwise(
        F.lit(-1.0)
    )


def cosine_topk_lsh(
    df: DataFrame, id_col: str, vec_col: str, target_id, k: int = 5,
    planes: int = 4, tables: int = 1,
) -> DataFrame:
    """ANN top-k: restrict the scan to the query's LSH bucket(s), then
    exact cosine rank inside. With ``tables`` independent hash tables a
    candidate matches if ANY table's bucket agrees — per-table match
    probability (1-θ/π)^planes compounds to 1-(1-p)^tables recall
    (measured on this corpus: 0.13 @ 1 table → 0.4+ @ 4 tables), while the
    scanned fraction stays ≈ tables/2^planes of the corpus."""
    buckets = F.array(
        *[hyperplane_bucket(F.col(vec_col), planes, table=t) for t in range(tables)]
    )
    bucketed = df.withColumn("__buckets", buckets)
    q = bucketed.filter(F.col(id_col) == F.lit(target_id)).select(
        F.col(vec_col).alias("__qvec"),
        norm(F.col(vec_col)).alias("__qnorm"),
        F.col("__buckets").alias("__qbuckets"),
    )
    any_table_match = F.exists(
        F.zip_with("__buckets", "__qbuckets", lambda a, b: a == b), lambda x: x
    )
    cand = bucketed.crossJoin(F.broadcast(q)).filter(
        any_table_match & (F.col(id_col) != F.lit(target_id))
    )
    return _query_cosine_topk(cand, id_col, vec_col, k)


def _centroid_frame(df: DataFrame, id_col: str, vec_col: str, nlist: int) -> DataFrame:
    """1-row frame holding the IVF coarse quantizer: the ``nlist``
    lowest-id vectors as seed centroids (the standard k-means sample
    init, kept at one pass so the assignment is oracle-reproducible),
    each with its precomputed norm. Broadcast by consumers."""
    seeds = (
        df.orderBy(id_col)
        .limit(nlist)
        .select(F.struct(F.col(id_col).alias("cid"), F.col(vec_col).alias("v")).alias("s"))
        .agg(F.array_sort(F.collect_list("s")).alias("cs"))
    )
    return seeds.select(
        F.transform(
            "cs", lambda s: F.struct(s["v"].alias("v"), norm(s["v"]).alias("nrm"))
        ).alias("__cents")
    )


def _cell_sims(vec: Column) -> Column:
    """Similarity of ``vec`` to every centroid: dot(v, c)/||c|| — the
    row's own norm is a positive constant across cells, so dropping it
    leaves the argmax (and the oracle mirror) unchanged at 1/3 the folds."""
    return F.transform(F.col("__cents"), lambda c: dot(vec, c["v"]) / c["nrm"])


def ivf_index(df: DataFrame, id_col: str, vec_col: str, nlist: int = 8) -> DataFrame:
    """Assign every vector to its nearest-centroid cell (1..nlist).

    The centroid table is a broadcast 1-row array — the corpus never
    shuffles; assignment is a per-row higher-order fold inside codegen.
    Ties take the lowest cell (``array_position`` returns the first max),
    matching the oracle's ``ORDER BY sim DESC, cell ASC``. At 100 TB the
    ``__cell`` column is a persistable index: write once, then every
    query is a partition-pruned scan of ``nprobe``/``nlist`` of the data.
    """
    with_c = df.crossJoin(F.broadcast(_centroid_frame(df, id_col, vec_col, nlist)))
    sims = _cell_sims(F.col(vec_col))
    return with_c.withColumn(
        "__cell", F.array_position(sims, F.array_max(sims)).cast("int")
    )


def cosine_topk_ivf(
    df: DataFrame, id_col: str, vec_col: str, target_id, k: int = 10,
    nlist: int = 8, nprobe: int = 2,
) -> DataFrame:
    """IVF ANN top-k: scan only the query's ``nprobe`` nearest cells,
    exact cosine rank inside — the inverted-file counterpart to the
    hyperplane-LSH path (``cosine_topk_lsh``). ``nprobe == nlist``
    degenerates to exact brute force (tested property)."""
    indexed = ivf_index(df, id_col, vec_col, nlist)
    # probe cells: sort (−sim, cell) ascending = sim desc, ties cell asc
    probe = F.transform(
        F.slice(
            F.array_sort(
                F.transform(
                    _cell_sims(F.col(vec_col)),
                    lambda s, i: F.struct(
                        (-s).alias("ns"), (i + 1).cast("int").alias("cell")
                    ),
                )
            ),
            1,
            nprobe,
        ),
        lambda s: s["cell"],
    )
    q = indexed.filter(F.col(id_col) == F.lit(target_id)).select(
        F.col(vec_col).alias("__qvec"),
        norm(F.col(vec_col)).alias("__qnorm"),
        probe.alias("__qprobes"),
    )
    cand = indexed.crossJoin(F.broadcast(q)).filter(
        F.array_contains(F.col("__qprobes"), F.col("__cell"))
        & (F.col(id_col) != F.lit(target_id))
    )
    return _query_cosine_topk(cand, id_col, vec_col, k)


def embedding_neardup_pairs(
    df: DataFrame, id_col: str, vec_col: str, threshold: float,
    planes: int = 4, max_bucket: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via LSH bucketing: candidate
    pairs share a sign-pattern bucket (equality join — shuffle on bucket,
    never quadratic in the corpus), then exact cosine ≥ threshold verifies.

    ``max_bucket`` is the mega-bucket guard (the dedup family's
    ``max_bucket=200`` discipline): buckets holding more vectors than the
    cap are EXCLUDED from pair generation — without it, a duplication
    factor of d inflates in-bucket pairs by d², which the sf1 rehearsal
    measured as 96× wall-clock on the 10×-replicated corpus (PERF.md).
    The cap is mirrored verbatim in the DuckDB oracles of q39/q117.
    """
    # norms computed once per vector (not per pair: cosine() would fold
    # both norms again for every candidate pair — 3 folds/pair vs 1).
    #
    # Bucket-aggregate + in-bucket pair explosion, the exact shape
    # lsh_candidate_pairs / simhash_pairs already use (guide §2.3/§2.4):
    # the corpus scan + hyperplane/norm folds are evaluated ONCE and each
    # vector crosses the single (bucket) shuffle once, vs the previous
    # keep-filter + left/right self-join shape that evaluated the
    # scan+fold subtree three times and shuffled every vector twice.
    # Vectors are single-bucketed (one table), so no pair can arise in
    # two buckets and no distinct is needed — identical output.
    from ..functions.plan import spread_small_scan

    # spread a sub-parallelism corpus scan before the hyperplane/norm
    # folds (guide §2.5; no-op when the scan already has >= cores splits)
    b = spread_small_scan(df.select(id_col, vec_col)).select(
        F.struct(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            norm(F.col(vec_col)).alias("nrm"),
        ).alias("m"),
        hyperplane_bucket(F.col(vec_col), planes).alias("__bucket"),
    )
    size_gate = F.size("ms") > 1
    if max_bucket is not None:
        size_gate = size_gate & (F.size("ms") <= max_bucket)
    # array_sort on (id, ...) structs orders by id (unique), giving
    # id_a < id_b from the triangular explosion below.
    buckets = (
        b.groupBy("__bucket")
        .agg(F.array_sort(F.collect_list("m")).alias("ms"))
        .filter(size_gate)
    )
    # Two-level pair explosion with the cosine fold computed ONCE, inside
    # the second Generate:
    # 1. a single-Generate (explode pairs, then select score + filter)
    #    plan evaluates the fold TWICE per pair — Catalyst pushes the
    #    threshold Filter below the Project, duplicating the score
    #    expression (the guide §4.4 pathology, here for higher-order
    #    functions, which are CodegenFallback/interpreted — measured as
    #    the dominant q117/q39 cost);
    # 2. with only 2^planes bucket keys (16 at planes=4) the fold would
    #    also run on at most 16 tasks. Exploding (anchor, tail-slice)
    #    rows FIRST and re-keying them by the high-cardinality anchor id
    #    spreads the fold across the cluster; the exchange volume is
    #    bounded at ANY corpus scale by the bucket cap
    #    (2^planes * max_bucket^2 / 2 candidate structs).
    # Computing the score inside the transform lambda of the second
    # Generate is what keeps the fold single-evaluation: the Filter above
    # references the generated column, which cannot be pushed below the
    # Generate.
    anchors = buckets.select(
        F.explode(
            F.expr(
                "transform(ms, (a, i) ->"
                " struct(a AS a, slice(ms, i + 2, size(ms)) AS tail))"
            )
        ).alias("t")
    ).select("t.a", "t.tail").filter(F.size("tail") > 0)
    par = df.sparkSession.sparkContext.defaultParallelism * 2
    anchors = anchors.repartition(par, F.col("a.id"))
    pair_score = F.explode(
        F.transform(
            F.col("tail"),
            lambda m: F.struct(
                m["id"].alias("id_b"),
                F.round(
                    dot(F.col("a.v"), m["v"]) / (F.col("a.nrm") * m["nrm"]), 4
                ).alias("score"),
            ),
        )
    )
    scored = anchors.select(F.col("a.id").alias("id_a"), pair_score.alias("p")).select(
        "id_a", F.col("p.id_b").alias("id_b"), F.col("p.score").alias("score")
    )
    return scored.filter(F.col("score") >= threshold)


def cosine_topk_lsh_batch(
    df: DataFrame, id_col: str, vec_col: str, target_ids, k: int = 5,
    planes: int = 4, tables: int = 2,
    exclude_same: str | None = None,
    require_same: str | None = None,
) -> DataFrame:
    """Batched ANN: top-k for MANY stored query vectors in one corpus pass.

    The single-query path (``cosine_topk_lsh``) broadcasts one query row
    and scans the corpus per query — fine interactively, wasteful for a
    query batch. Here candidate pairs come from a ``(table, bucket)``
    equality join against ONE broadcast frame of the query rows, which
    carries each query's vector and norm. A candidate row keeps its own
    corpus vector, so it is scored where the join produces it (the
    candidate-side norm runs only on candidate rows) and the corpus is
    read once, with no shuffle of its vectors. The scored rows are
    deduped across tables, then re-ranked per query with a window top-k.
    Returns (qid, id, score, rank<=k); ordering ties break on the
    rounded score then id, so results are deterministic.

    ``exclude_same`` names an attribute column of ``df``: candidate rows
    sharing the anchor's value are dropped BEFORE ranking — the
    hard-negative-mining predicate (most-similar items of a *different*
    class). ``require_same`` is the complement — keep only candidates
    SHARING the anchor's value (positive mining). Both filters ride the
    existing bucket join (anchor attrs are broadcast with the bucket
    keys), so the scale shape is unchanged.
    """
    from pyspark.sql import Window

    extra = [c for c in {exclude_same, require_same} if c]
    buckets = F.array(
        *[hyperplane_bucket(F.col(vec_col), planes, table=t) for t in range(tables)]
    )
    exploded = df.select(
        id_col, vec_col, *extra, F.posexplode(buckets).alias("__t", "__b")
    )
    qe = exploded.filter(F.col(id_col).isin(list(target_ids))).select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("__qv"),
        norm(F.col(vec_col)).alias("__qn"),
        *[F.col(c).alias(f"__q_{c}") for c in extra],
        "__t",
        "__b",
    )
    pairs = (
        exploded.join(F.broadcast(qe), on=["__t", "__b"])
        .filter(F.col(id_col) != F.col("qid"))
    )
    if exclude_same:
        pairs = pairs.filter(F.col(exclude_same) != F.col(f"__q_{exclude_same}"))
    if require_same:
        pairs = pairs.filter(F.col(require_same) == F.col(f"__q_{require_same}"))
    scored = pairs.select(
        "qid",
        id_col,
        F.round(
            dot(F.col(vec_col), F.col("__qv")) / (norm(F.col(vec_col)) * F.col("__qn")), 4
        ).alias("score"),
    ).distinct()
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .orderBy("qid", "rank")
    )
