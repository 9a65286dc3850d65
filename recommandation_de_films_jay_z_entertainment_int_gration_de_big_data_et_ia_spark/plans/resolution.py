"""Round-4 extension batch: blocked entity resolution, incremental
materialized-aggregate maintenance, and a mergeable Misra-Gries
heavy-hitters sketch with an exactness guarantee.

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
