"""Entity resolution and incremental aggregates: blocked entity
resolution, fuzzy blocked and sorted-neighbourhood matching, name edit
pairs, incremental materialized-aggregate maintenance, and a mergeable
Misra-Gries heavy-hitters sketch with an exactness guarantee.

These extend the LLM-data-pipeline surface (SURVEY §2.8): record linkage
is the entity-level cousin of document dedup; incremental aggregate
maintenance is how 100 TB rollups stay fresh without rescans; frequent
tokens with a provable threshold is the sketch counterpart of q55/q121.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import NORM_SQL, TOKS_SQL, normalize_text, tokens
from ..sources.readers import load_table
from .catalog import register

# ---------------------------------------------------------------------------
# q140 — blocked entity resolution (record linkage). A deterministically
# corrupted copy of every part (vowels stripped from the name, partkey
# offset by 1e6) must be re-linked to an original. Blocking key =
# 2-char consonant skeleton of the name + brand — invariant under the
# corruption, so every dirty record lands in its true block; block sizes
# stay bounded (max 17 at sf0.01), which is what makes the pairwise
# levenshtein affordable. Best match per dirty record = min edit
# distance, ties broken by min original key (window top-1).
#
# Shape (100 TB): candidate pairs are generated ONLY within blocks (one
# shuffle on the block key), never all-pairs; scoring is a JVM-side
# levenshtein on the joined pairs; assignment is one window over the
# dirty-record id. Identical to the MinHash-band pattern of q32 with a
# phonetic/skeleton key instead of a hash band.
# ---------------------------------------------------------------------------
_ER_SKEL = "left(regexp_replace(lower({name}), '[aeiou ]', '', 'g'), 2)"
_ER_CORRUPT = "regexp_replace(p_name, '[aeiou]', '', 'g')"


@register(
    "q140_entity_resolution",
    oracle=f"""
    WITH dirty AS (
      SELECT p_partkey + 1000000 AS dirty_id, {_ER_CORRUPT} AS name, p_brand
      FROM part),
    blocked AS (
      SELECT d.dirty_id, d.name AS dirty_name,
             p.p_partkey AS match_id, p.p_name AS match_name,
             levenshtein(d.name, p.p_name) AS dist
      FROM dirty d JOIN part p
        ON {_ER_SKEL.format(name='d.name')} = {_ER_SKEL.format(name='p.p_name')}
       AND d.p_brand = p.p_brand),
    ranked AS (
      SELECT dirty_id, match_id, dist,
             ROW_NUMBER() OVER (PARTITION BY dirty_id
                                ORDER BY dist ASC, match_id ASC) AS rn
      FROM blocked WHERE dist <= 6)
    SELECT dirty_id, match_id, CAST(dist AS BIGINT) AS dist,
           CAST(match_id = dirty_id - 1000000 AS BOOLEAN) AS self_hit
    FROM ranked WHERE rn = 1
    """,
)
def q140_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Scale note (sf1 rehearsal, PERF.md): the naive dirty×originals
    # in-block join is quadratic under duplication — measured 112× at
    # 10× data (identical names replicate, blocks grow 10×, pairs 100×).
    # Fix: canonicalize originals to DISTINCT (p_name, p_brand) entities
    # first (match_id = min partkey per entity). Output-equivalent to the
    # row-level join + (dist, match_id) window — the global winner is
    # always achieved at some entity's min partkey, so minimizing over
    # entity representatives minimizes over all rows — while the pair
    # count becomes O(dirty × distinct-entities-per-block), INDEPENDENT
    # of the duplication factor. The oracle keeps the row-level
    # formulation (same output by the argument above), so parity also
    # proves the equivalence.
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_name", "p_brand")
    dirty = part.select(
        (F.col("p_partkey") + 1000000).alias("dirty_id"),
        F.expr(_ER_CORRUPT.replace(", 'g'", "")).alias("name"),
        "p_brand",
    )
    skel = lambda c: F.expr(_ER_SKEL.format(name=c).replace(", 'g'", ""))  # noqa: E731
    entities = part.groupBy("p_name", "p_brand").agg(F.min("p_partkey").alias("p_partkey"))
    blocked = (
        dirty.withColumn("bk", skel("name"))
        .join(
            F.broadcast(entities.withColumn("bk", skel("p_name"))),
            ["bk", "p_brand"],
        )
        .select(
            "dirty_id",
            F.col("p_partkey").alias("match_id"),
            F.levenshtein("name", "p_name").alias("dist"),
        )
        .filter(F.col("dist") <= 6)
    )
    w = Window.partitionBy("dirty_id").orderBy(F.asc("dist"), F.asc("match_id"))
    return (
        blocked.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "dirty_id",
            "match_id",
            F.col("dist").cast("bigint").alias("dist"),
            (F.col("match_id") == F.col("dirty_id") - 1000000).alias("self_hit"),
        )
    )


# ---------------------------------------------------------------------------
# q141 — incremental materialized-aggregate maintenance: a per-customer
# order rollup (count + exact decimal revenue) maintained as
# MV(base) ⊕ agg(delta) instead of a full rescan. The merge is a
# full-outer join of two partial aggregates with null-safe addition —
# the algebra every incremental-view engine (Materialize, Delta Live
# Tables) implements for associative aggregates.
#
# Shape (100 TB): the base MV is a materialized table partitioned by the
# group key; each refresh aggregates ONLY the delta partition (pushed
# date filter, visible in the scan) and shuffles the tiny delta-agg to
# merge. The oracle proves MV ⊕ delta == full recompute.
# ---------------------------------------------------------------------------
_MV_CUTOFF = "1997-01-01"


@register(
    "q141_incremental_agg",
    oracle=f"""
    WITH base AS (
      SELECT o_custkey, COUNT(*) AS cnt,
             SUM(CAST(ROUND(o_totalprice, 2) AS DECIMAL(18,2))) AS rev
      FROM orders WHERE o_orderdate < TIMESTAMP '{_MV_CUTOFF}'
      GROUP BY o_custkey),
    delta AS (
      SELECT o_custkey, COUNT(*) AS cnt,
             SUM(CAST(ROUND(o_totalprice, 2) AS DECIMAL(18,2))) AS rev
      FROM orders WHERE o_orderdate >= TIMESTAMP '{_MV_CUTOFF}'
      GROUP BY o_custkey)
    SELECT COALESCE(b.o_custkey, d.o_custkey) AS o_custkey,
           COALESCE(b.cnt, 0) + COALESCE(d.cnt, 0) AS cnt,
           ROUND(CAST(COALESCE(b.rev, 0) + COALESCE(d.rev, 0) AS DOUBLE), 2) AS rev
    FROM base b FULL OUTER JOIN delta d ON b.o_custkey = d.o_custkey
    """,
)
def q141_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return incremental_agg_merge(
        _mv_rollup(orders.filter(F.col("o_orderdate") < F.lit(_MV_CUTOFF).cast("timestamp"))),
        _mv_rollup(orders.filter(F.col("o_orderdate") >= F.lit(_MV_CUTOFF).cast("timestamp"))),
    )


def _mv_rollup(orders: DataFrame) -> DataFrame:
    return orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.round("o_totalprice", 2).cast("decimal(18,2)")).alias("rev"),
    )


def incremental_agg_merge(mv: DataFrame, delta: DataFrame) -> DataFrame:
    """Merge a materialized rollup with a delta rollup (same schema:
    key, cnt, rev) without touching base fact rows — the associative
    ⊕ of incremental view maintenance."""
    b = mv.select(
        F.col("o_custkey").alias("bk"), F.col("cnt").alias("bcnt"), F.col("rev").alias("brev")
    )
    d = delta.select(
        F.col("o_custkey").alias("dk"), F.col("cnt").alias("dcnt"), F.col("rev").alias("drev")
    )
    zero = F.lit(0).cast("decimal(18,2)")
    return b.join(d, F.col("bk") == F.col("dk"), "full_outer").select(
        F.coalesce("bk", "dk").alias("o_custkey"),
        (F.coalesce("bcnt", F.lit(0)) + F.coalesce("dcnt", F.lit(0))).alias("cnt"),
        F.round(
            (F.coalesce("brev", zero) + F.coalesce("drev", zero)).cast("double"), 2
        ).alias("rev"),
    )


# ---------------------------------------------------------------------------
# q142 — heavy hitters via mergeable Misra-Gries summaries with an exact
# final answer. Per partition, a capacity-K MG summary over the token
# stream (mapInPandas, stateful across Arrow batches); the union of all
# partition summaries is a PROVABLE superset of every token with global
# count > N/(K+1) (each decrement round destroys ≥ K+1 units of count
# mass, so a token absent from partition p's summary has local count
# ≤ N_p/(K+1); summing over partitions gives the global bound). A
# broadcast semi-join recounts only the candidates exactly, so the
# emitted set equals the exact SQL answer REGARDLESS of partitioning —
# the sketch is a pruning device, not an approximation, which is what
# makes this hash-oracle-able (integer threshold cnt·(K+1) > N; no
# float boundary).
#
# Shape (100 TB): pass 1 never shuffles token mass — each partition
# ships ≤ K rows; pass 2 recounts with the candidate set broadcast into
# the scan, one small shuffle on ≤ |candidates| keys. K=30 < the
# corpus's 31-token vocabulary, so eviction genuinely triggers in tests;
# the fixture's near-uniform token shares (~1/31 each) straddle the
# 1/(K+1) threshold, so both qualifying and non-qualifying tokens exist.
# ---------------------------------------------------------------------------
_MG_K = 30


@register(
    "q142_heavy_hitters",
    oracle=f"""
    WITH toks AS (
      SELECT unnest({TOKS_SQL}) AS token
      FROM documents WHERE {NORM_SQL} <> ''),
    c AS (SELECT token, COUNT(*) AS cnt FROM toks GROUP BY token),
    n AS (SELECT SUM(cnt) AS n FROM c)
    SELECT token, cnt FROM c, n WHERE cnt * {_MG_K + 1} > n
    """,
)
def q142_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.filter(normalize_text("text") != "")
        .select(tokens("text").alias("ts"))
        .select(F.explode("ts").alias("token"))
    )
    candidates = misra_gries_candidates(toks, "token", _MG_K).select("token")
    exact = toks.join(F.broadcast(candidates), "token", "left_semi").groupBy("token").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    n = toks.groupBy().agg(F.count(F.lit(1)).alias("n"))
    return (
        exact.join(F.broadcast(n))
        .filter(F.col("cnt") * (_MG_K + 1) > F.col("n"))
        .select("token", "cnt")
    )


def misra_gries_candidates(df: DataFrame, col: str, k: int) -> DataFrame:
    """Per-partition capacity-``k`` Misra-Gries summaries over ``df[col]``
    (strings), unioned. Guarantee: any value with global count
    > N/(k+1) appears in the output. Batch-form decrement: after adding
    an Arrow batch, if the summary exceeds ``k`` entries, subtract the
    (size-k)-th smallest counter from all and drop non-positives — each
    unit of decrement destroys ≥ k+1 units of mass, preserving the
    classic MG bound (Agarwal et al., "Mergeable Summaries", PODS'12).
    """
    import pandas as pd  # local import: Arrow path only

    def summarize(batches):
        counters: dict[str, int] = {}
        for pdf in batches:
            for tok, cnt in pdf[col].value_counts().items():
                counters[tok] = counters.get(tok, 0) + int(cnt)
            if len(counters) > k:
                vals = sorted(counters.values())
                m = vals[len(counters) - k - 1]
                counters = {t: c - m for t, c in counters.items() if c - m > 0}
        yield pd.DataFrame({col: list(counters.keys()), "est": list(counters.values())})

    schema = f"{col} string, est long"
    return df.mapInPandas(summarize, schema=schema)


# ---------------------------------------------------------------------------
# q144 — bucketed co-located join: orders and customer are materialized
# ONCE as bucketed tables (8 buckets on the join key, sorted within
# buckets); every subsequent join on that key is Exchange-free — the
# sort-merge join reads matching buckets directly (plan-guarded in
# tests/test_plans.py). This is THE pattern for repeated 100 TB fact⨝dim
# joins: pay one shuffle at ingest, then never again; bucket count scales
# with cluster width (8 here only to keep test fixtures small).
#
# The catalog entry returns a per-mktsegment rollup of the joined tables
# so the oracle (plain join+agg SQL) checks values, while the pytest plan
# guard separately proves the physical join has no shuffle on either
# side.
# ---------------------------------------------------------------------------
_BKT_BUCKETS = 8


def bucketed_table(spark: SparkSession, df: DataFrame, name: str, key: str) -> DataFrame:
    """Materialize ``df`` as a bucketed+sorted table (idempotent per
    session: reused if it already exists in the catalog). The table is
    EXTERNAL at an explicit path under the repo's ``.tmp`` — never the
    session warehouse dir, which is a static conf derived from the
    DRIVER PROCESS's cwd and may be read-only or unexpected on a vanilla
    driver session. A stale path from a previous process (the in-memory
    catalog does not survive restarts, the files do) is cleared first —
    otherwise saveAsTable fails with LOCATION_ALREADY_EXISTS. The path is
    removed when the process exits."""
    if not spark.catalog.tableExists(name):
        import atexit
        import os
        import shutil

        root = os.path.join(
            os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
            ".tmp",
            "bucketed",
        )
        path = os.path.join(root, name)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(root, exist_ok=True)
        atexit.register(shutil.rmtree, path, True)
        (
            df.write.bucketBy(_BKT_BUCKETS, key)
            .sortBy(key)
            .mode("overwrite")
            .format("parquet")
            .option("path", path)
            .saveAsTable(name)
        )
    return spark.table(name)


@register(
    "q144_bucketed_join",
    oracle="""
    SELECT c.c_mktsegment, COUNT(*) AS n_orders,
           ROUND(CAST(SUM(CAST(ROUND(o.o_totalprice, 2) AS DECIMAL(18,2))) AS DOUBLE), 2) AS rev
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def q144_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os

    # sf-addressed AND process-addressed: the table cache is per-session
    # anyway (in-memory catalog), and the pid component makes concurrent
    # pytest workers / parity processes race-free on the shared
    # .tmp/bucketed directory (scripts/fast_suite.sh).
    tag = hashlib.md5(f"{sf_dir}:{os.getpid()}".encode()).hexdigest()[:8]
    orders = bucketed_table(
        spark,
        load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice"),
        f"bkt_orders_{tag}",
        "o_custkey",
    )
    customer = bucketed_table(
        spark,
        load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment"),
        f"bkt_customer_{tag}",
        "c_custkey",
    )
    return (
        orders.join(customer, orders["o_custkey"] == customer["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(
                F.sum(F.round("o_totalprice", 2).cast("decimal(18,2)")).cast("double"), 2
            ).alias("rev"),
        )
    )


_FUZZY_MAX_DIST = 4


# ---------------------------------------------------------------------------
# q171 — blocked fuzzy join (entity-matching primitive the q140
# resolution pipeline assumes): candidate pairs of *distinct* part names
# whose edit distance is <= 4, generated ONLY within a blocking key (the
# head noun of the name), never all-pairs. At 100 TB the block key keeps
# the self-join linear in block sizes: Exchange on the noun, in-block
# pair comparison, and levenshtein runs JVM-side (built-in, codegen) —
# no UDF. Both engines compute exact Levenshtein, so `dist` matches
# bit-for-bit.
# ---------------------------------------------------------------------------
@register(
    "q171_fuzzy_blocked_join",
    oracle=f"""
    WITH names AS (
      SELECT DISTINCT p_name, string_split(p_name, ' ')[-1] AS block
      FROM part)
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
    FROM names a JOIN names b
      ON a.block = b.block AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= {_FUZZY_MAX_DIST}
    """,
)
def q171_fuzzy_blocked_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    names = (
        load_table(spark, sf_dir, "part")
        .select("p_name")
        .distinct()
        .withColumn("block", F.element_at(F.split("p_name", " "), -1))
    )
    a = names.select(F.col("p_name").alias("name_a"), F.col("block").alias("ba"))
    b = names.select(F.col("p_name").alias("name_b"), F.col("block").alias("bb"))
    return (
        a.join(b, (F.col("ba") == F.col("bb")) & (F.col("name_a") < F.col("name_b")))
        .withColumn("dist", F.levenshtein("name_a", "name_b").cast("int"))
        .filter(F.col("dist") <= _FUZZY_MAX_DIST)
        .select("name_a", "name_b", "dist")
    )


# ---------------------------------------------------------------------------
# q179 — sorted-neighborhood near-dup detection (the sort-based
# alternative to q32's LSH blocking, classic Hernandez-Stolfo SNM):
# documents are ordered by their normalized text, and each doc is
# compared ONLY to its next `_SNM_WINDOW` neighbors in that order (LEAD
# windows — linear work, never all-pairs). Pairs with token-Jaccard >=
# `_SNM_THRESHOLD` survive. The window is partitioned by the first
# character of the sort key, so at 100 TB the sort is a bounded
# per-prefix-block range sort (lengthen the prefix to shrink blocks) —
# the documented SNM trade-off: boundary pairs across blocks are missed,
# exactly as bucket-boundary pairs are missed by LSH banding.
# Token/normalization spec is shared with the dedup family
# (functions.text.normalize_text / NORM_SQL).
# ---------------------------------------------------------------------------
_SNM_WINDOW = 3
_SNM_THRESHOLD = 0.2


@register(
    "q179_sorted_neighborhood",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {NORM_SQL} AS sk,
             list_distinct({TOKS_SQL}) AS tk
      FROM documents),
    p AS (
      SELECT doc_id AS id_a, tk AS tk_a,
             {" , ".join(
               f"LEAD(doc_id, {o}) OVER w AS id_b{o}, LEAD(tk, {o}) OVER w AS tk_b{o}"
               for o in range(1, _SNM_WINDOW + 1)
             )}
      FROM t
      WINDOW w AS (PARTITION BY substr(sk, 1, 1) ORDER BY sk, doc_id)),
    pairs AS (
      {" UNION ALL ".join(
        f"SELECT id_a, id_b{o} AS id_b, {o} AS nbr_offset, tk_a, tk_b{o} AS tk_b FROM p WHERE id_b{o} IS NOT NULL"
        for o in range(1, _SNM_WINDOW + 1)
      )})
    SELECT id_a, id_b, CAST(nbr_offset AS INT) AS nbr_offset,
           ROUND(CAST(len(list_intersect(tk_a, tk_b)) AS DOUBLE)
                 / CAST(len(list_distinct(list_concat(tk_a, tk_b))) AS DOUBLE), 4) AS jaccard
    FROM pairs
    WHERE CAST(len(list_intersect(tk_a, tk_b)) AS DOUBLE)
          / CAST(len(list_distinct(list_concat(tk_a, tk_b))) AS DOUBLE) >= {_SNM_THRESHOLD}
    """,
)
def q179_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        normalize_text(F.col("text")).alias("sk"),
        F.array_distinct(tokens(F.col("text"))).alias("tk"),
    )
    w = Window.partitionBy(F.substring("sk", 1, 1)).orderBy("sk", "doc_id")
    p = docs.select(
        F.col("doc_id").alias("id_a"),
        F.col("tk").alias("tk_a"),
        *[F.lead("doc_id", o).over(w).alias(f"id_b{o}") for o in range(1, _SNM_WINDOW + 1)],
        *[F.lead("tk", o).over(w).alias(f"tk_b{o}") for o in range(1, _SNM_WINDOW + 1)],
    )
    arms = []
    for o in range(1, _SNM_WINDOW + 1):
        arms.append(
            p.filter(F.col(f"id_b{o}").isNotNull()).select(
                "id_a",
                F.col(f"id_b{o}").alias("id_b"),
                F.lit(o).cast("int").alias("nbr_offset"),
                "tk_a",
                F.col(f"tk_b{o}").alias("tk_b"),
            )
        )
    pairs = arms[0]
    for arm in arms[1:]:
        pairs = pairs.unionAll(arm)
    jac = F.size(F.array_intersect("tk_a", "tk_b")).cast("double") / F.size(
        F.array_union("tk_a", "tk_b")
    ).cast("double")
    return (
        pairs.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= _SNM_THRESHOLD)
        .select("id_a", "id_b", "nbr_offset", F.round("jaccard", 4).alias("jaccard"))
    )


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
