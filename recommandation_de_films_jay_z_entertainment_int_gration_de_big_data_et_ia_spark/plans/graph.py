"""Graph analytics over the co-purchase graph built from order baskets:
PageRank, triangle counting, k-hop reachability and common neighbours.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog import register
from .ml import _TRI_MIN_SUP, BASKETS_CTE, basket_pairs, lineitem_baskets


# ---------------------------------------------------------------------------
# q126 — PageRank (3 fixed iterations, d=0.85) over the co-purchase
# graph: parts are nodes, orders' basket pairs are (undirected) edges —
# the iterative-numeric-algorithm shape (vs dedup_clusters' iterative
# set algebra). Deterministic cross-engine: every per-edge contribution
# pr(u)/deg(u) is rounded to DECIMAL(28,10) BEFORE the neighbor sum
# (exact, order-independent), and each iteration's rank is recomposed
# with identically-parenthesized double math; fixed iteration count so
# the oracle is a plain CTE chain, no recursion.
#
# Shape (100 TB): the rank/degree vector is per-NODE (≪ edges), so each
# iteration BROADCASTS it into the edges join — the edge list is never
# shuffled; the only per-iteration shuffle is the contribution
# groupBy(dst). Degrees ride inside the rank frame (one join per
# iteration, not two). Measured 2.4× over the shuffle-join variant at
# sf0.1 (4.7 s vs 11.3 s warm). At web-scale node counts (rank vector
# exceeding executor memory) drop the broadcast hints and AQE falls
# back to shuffle joins — the plan shape otherwise stands. N rides as a
# broadcast 1-row frame, never a driver value.
# ---------------------------------------------------------------------------
# Damping + teleport as SEPARATE literals (not 1 - _PR_D, which is
# 0.15000000000000002 in binary float): both the oracle f-string and the
# Spark expressions reference these, so editing them edits both engines.
_PR_D = 0.85
_PR_TELEPORT = 0.15
_PR_ITERS = 3


def _pr_oracle() -> str:
    pair_cte = f"""
    {BASKETS_CTE},
    pairs AS (
      SELECT DISTINCT p1.part AS a, p2.part AS b
      FROM baskets, UNNEST(parts) AS p1(part), UNNEST(parts) AS p2(part)
      WHERE p1.part < p2.part),
    edges AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
    deg AS (SELECT a AS node, COUNT(*) AS d FROM edges GROUP BY a),
    n AS (SELECT COUNT(*) AS n FROM deg),
    pr0 AS (SELECT node, 1.0 / n.n AS pr FROM deg CROSS JOIN n)
    """
    iters = []
    for k in range(_PR_ITERS):
        iters.append(f"""
    c{k} AS (
      SELECT e.b AS node,
             CAST(ROUND(p.pr / deg.d, 10) AS DECIMAL(28,10)) AS c
      FROM edges e JOIN pr{k} p ON e.a = p.node JOIN deg ON e.a = deg.node),
    pr{k+1} AS (
      SELECT s.node, ({_PR_TELEPORT} / n.n) + ({_PR_D} * CAST(s.sc AS DOUBLE)) AS pr
      FROM (SELECT node, SUM(c) AS sc FROM c{k} GROUP BY node) s CROSS JOIN n)
    """)
    return (
        "WITH " + pair_cte + "," + ",".join(iters)
        + f"""
    SELECT CAST(node AS BIGINT) AS node, ROUND(pr, 8) AS pagerank
    FROM pr{_PR_ITERS} ORDER BY pagerank DESC, node ASC LIMIT 20
    """
    )


@register("q126_pagerank_copurchase", oracle=_pr_oracle())
def q126_pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    baskets = lineitem_baskets(spark, sf_dir)
    pairs = (
        baskets.select(F.explode(basket_pairs()).alias("p"))
        .select("p.a", "p.b")
        .distinct()
        # Lineage pin (guide §3.3 "materialise an intermediate to truncate
        # the plan", q215's lazy-checkpoint pattern): `pairs` feeds the
        # edge union, which feeds deg AND every iteration's contribution
        # join — and each iteration's broadcast of `pr` re-embeds the
        # whole prior lineage, so the basket-explode + distinct subtree
        # appeared 8x in a 286-node physical plan (plans/r11/
        # q126_pagerank_copurchase_before.txt). One shared RDD computes
        # the subtree once; nothing executes at plan-build time.
        .localCheckpoint(eager=False)
    )
    edges = pairs.unionByName(pairs.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = (
        edges.groupBy(F.col("a").alias("node"))
        .agg(F.count(F.lit(1)).alias("d"))
        # deg is re-read by pr0 and by every iteration's rank recompose
        # (3 broadcasts) — pin the small (node, d) frame too.
        .localCheckpoint(eager=False)
    )
    n = deg.agg(F.count(F.lit(1)).alias("n"))
    pr = deg.crossJoin(F.broadcast(n)).select(
        "node", "d", (F.lit(1.0) / F.col("n")).alias("pr")
    )
    for _ in range(_PR_ITERS):
        contribs = edges.join(F.broadcast(pr), edges["a"] == pr["node"]).select(
            F.col("b").alias("node"),
            F.round(F.col("pr") / F.col("d"), 10).cast("decimal(28,10)").alias("c"),
        )
        pr = (
            contribs.groupBy("node")
            .agg(F.sum("c").alias("sc"))
            .join(F.broadcast(deg), "node")
            .crossJoin(F.broadcast(n))
            .select(
                "node",
                "d",
                (
                    (F.lit(_PR_TELEPORT) / F.col("n"))
                    + (F.lit(_PR_D) * F.col("sc").cast("double"))
                ).alias("pr"),
            )
        )
    return (
        pr.select(F.col("node").cast("bigint").alias("node"), F.round("pr", 8).alias("pagerank"))
        .orderBy(F.col("pagerank").desc(), F.col("node").asc())
        .limit(20)
    )


@register(
    "q146_triangle_count",
    oracle=f"""
    WITH {BASKETS_CTE},
    pairs AS (
      SELECT p1.part AS a, p2.part AS b, COUNT(*) AS sup
      FROM baskets, UNNEST(parts) AS p1(part), UNNEST(parts) AS p2(part)
      WHERE p1.part < p2.part GROUP BY a, b),
    edges AS (SELECT a, b FROM pairs WHERE sup >= {_TRI_MIN_SUP}),
    tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM edges e1 JOIN edges e2 ON e1.b = e2.a
           JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b),
    nodes AS (
      SELECT x AS node FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri)
    SELECT node, COUNT(*) AS n_triangles
    FROM nodes GROUP BY node
    ORDER BY n_triangles DESC, node ASC LIMIT 20
    """,
)
def q146_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    baskets = lineitem_baskets(spark, sf_dir)
    edges = (
        baskets.select(F.explode(basket_pairs()).alias("p"))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("sup"))
        .filter(F.col("sup") >= _TRI_MIN_SUP)
        .select("a", "b")
    )
    e1 = edges.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = edges.select(F.col("a").alias("y"), F.col("b").alias("z"))
    e3 = edges.select(F.col("a").alias("x"), F.col("b").alias("z"))
    tri = e1.join(e2, "y").join(e3, ["x", "z"])
    nodes = (
        tri.select(F.col("x").alias("node"))
        .unionAll(tri.select(F.col("y").alias("node")))
        .unionAll(tri.select(F.col("z").alias("node")))
    )
    return (
        nodes.groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
        .orderBy(F.desc("n_triangles"), F.asc("node"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q161 — k-hop reachability (bounded graph traversal, the BFS cousin of
# q126's PageRank and q146's triangles): from the smallest node of the
# support-pruned co-purchase graph, every node reachable in <= 3 hops
# with its minimal hop count. Fixed-depth frontier expansion — one
# edges-join + dedupe per hop, the iterative-join shape that replaces
# recursive CTEs on Spark; the oracle chains the same three expansions
# as plain CTEs. Frontier/visited frames stay node-sized (<< edges).
# ---------------------------------------------------------------------------
_KHOP_EDGE_CTE = f"""
    {BASKETS_CTE},
    pairs AS (
      SELECT p1.part AS a, p2.part AS b, COUNT(*) AS sup
      FROM baskets, UNNEST(parts) AS p1(part), UNNEST(parts) AS p2(part)
      WHERE p1.part < p2.part GROUP BY a, b),
    dedges AS (SELECT a, b FROM pairs WHERE sup >= {_TRI_MIN_SUP}),
    edges AS (SELECT a, b FROM dedges UNION SELECT b, a FROM dedges)
"""


@register(
    "q161_khop_reachability",
    oracle=f"""
    WITH {_KHOP_EDGE_CTE},
    seed AS (SELECT MIN(a) AS s FROM edges),
    h1 AS (SELECT DISTINCT e.b AS node FROM edges e JOIN seed ON e.a = seed.s),
    h2 AS (
      SELECT DISTINCT e.b AS node FROM edges e JOIN h1 ON e.a = h1.node
      WHERE e.b NOT IN (SELECT s FROM seed) AND e.b NOT IN (SELECT node FROM h1)),
    h3 AS (
      SELECT DISTINCT e.b AS node FROM edges e JOIN h2 ON e.a = h2.node
      WHERE e.b NOT IN (SELECT s FROM seed)
        AND e.b NOT IN (SELECT node FROM h1)
        AND e.b NOT IN (SELECT node FROM h2))
    SELECT node, 1 AS hops FROM h1
    UNION ALL SELECT node, 2 FROM h2
    UNION ALL SELECT node, 3 FROM h3
    """,
)
def q161_khop_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    baskets = lineitem_baskets(spark, sf_dir)
    directed = (
        baskets.select(F.explode(basket_pairs()).alias("p"))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("sup"))
        .filter(F.col("sup") >= _TRI_MIN_SUP)
        .select("a", "b")
    )
    edges = directed.unionAll(
        directed.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct()
    edges = edges.localCheckpoint()  # truncate lineage before iteration
    seed = edges.groupBy().agg(F.min("a").alias("node"))
    visited = seed
    out = None
    frontier = seed
    for hop in (1, 2, 3):
        frontier = (
            edges.join(
                frontier.select(F.col("node").alias("a")), "a"
            )
            .select(F.col("b").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
        )
        labeled = frontier.select("node", F.lit(hop).alias("hops"))
        out = labeled if out is None else out.unionAll(labeled)
        visited = visited.unionAll(frontier.select("node"))
    return out


# ---------------------------------------------------------------------------
# q215 — common-neighbor link prediction over the co-purchase graph
# (the missing-edge scorer next to q126/q146/q161): for part pairs NOT
# directly co-purchased, score = |N(a) ∩ N(b)| over BOUNDED
# neighborhoods, plus neighbor-Jaccard; top-20 candidate links.
#
# Scale design: the naive neighbor-of-neighbor join costs Σ deg(m)² —
# measured 450M intermediate rows at sf0.1 (48 s) and unbounded under
# data growth, so BOTH graph fan-outs are deterministically capped
# before the two-hop join: each node keeps its top-FANOUT neighbors by
# (support DESC, id ASC), then each neighbor keeps at most FANIN
# reverse edges by the same order. Two-hop volume is then ≤
# FANIN·FANOUT·|nodes| regardless of popularity skew — this is the
# standard truncated-neighborhood formulation used by item-CF link
# predictors. Degrees and Jaccard use the same truncated edge set;
# direct edges are anti-joined out on the UNtruncated pair set.
# ---------------------------------------------------------------------------
_CN_FANOUT, _CN_FANIN = 20, 50


@register(
    "q215_common_neighbors",
    oracle=f"""
    WITH {BASKETS_CTE},
    rawpairs AS (
      SELECT p1.part AS a, p2.part AS b
      FROM baskets, UNNEST(parts) AS p1(part), UNNEST(parts) AS p2(part)
      WHERE p1.part != p2.part),
    pairs AS (SELECT a, b, COUNT(*) AS sup FROM rawpairs GROUP BY a, b),
    fwd AS (
      SELECT a, b, sup FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY a ORDER BY sup DESC, b ASC) AS rn
        FROM pairs) WHERE rn <= {_CN_FANOUT}),
    edges AS (
      SELECT a, b FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY b ORDER BY sup DESC, a ASC) AS rn
        FROM fwd) WHERE rn <= {_CN_FANIN}),
    deg AS (SELECT a AS node, COUNT(*) AS deg FROM edges GROUP BY a),
    two_hop AS (
      SELECT e1.a AS a, e2.a AS b, COUNT(*) AS common
      FROM edges e1 JOIN edges e2 ON e1.b = e2.b
      WHERE e1.a < e2.a
      GROUP BY e1.a, e2.a),
    cand AS (
      SELECT t.a, t.b, t.common
      FROM two_hop t LEFT JOIN pairs p ON t.a = p.a AND t.b = p.b
      WHERE p.a IS NULL),
    scored AS (
      SELECT c.a, c.b, c.common,
             ROUND(CAST(c.common AS DOUBLE) / (da.deg + db.deg - c.common), 6) AS neighbor_jaccard
      FROM cand c JOIN deg da ON c.a = da.node JOIN deg db ON c.b = db.node)
    SELECT a, b, CAST(common AS BIGINT) AS common, neighbor_jaccard
    FROM scored
    ORDER BY common DESC, neighbor_jaccard DESC, a ASC, b ASC
    LIMIT 20
    """,
)
def q215_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    baskets = lineitem_baskets(spark, sf_dir)
    # Generate each unordered pair ONCE (a < b): support is symmetric,
    # so exploding both directions only to re-count them doubles the
    # rows through the explode and the (a, b) shuffle — the ~630M-row
    # stage at sf10 (SCALE_r10) becomes ~315M. The full symmetric table
    # is mirrored AFTER the aggregate (a projection, no extra shuffle).
    pair_expr = F.expr(
        "flatten(transform(parts, a -> transform(filter(parts, b -> b > a),"
        " b -> struct(a AS a, b AS b))))"
    )
    half = (
        baskets.select(F.explode(pair_expr).alias("p"))
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("sup"))
        # `half` feeds the truncated edge set (via the mirror) AND the
        # direct-edge anti-join; without a lineage pin the basket-pair
        # explode and its (a,b) shuffle run TWICE — the round-10 sf10
        # flag (18.2x) was mostly this double computation. Lazy
        # checkpoint: materialized on first use inside the job, reused
        # by the second consumer, nothing executes at plan-build time.
        .localCheckpoint(eager=False)
    )
    pairs = half.unionAll(
        half.select(F.col("b").alias("a"), F.col("a").alias("b"), "sup")
    )
    w_fwd = Window.partitionBy("a").orderBy(F.desc("sup"), F.asc("b"))
    fwd = pairs.withColumn("rn", F.row_number().over(w_fwd)).filter(
        F.col("rn") <= _CN_FANOUT
    ).drop("rn")
    w_rev = Window.partitionBy("b").orderBy(F.desc("sup"), F.asc("a"))
    # r12 NEGATIVE RESULT (VERDICT task 7, measured and reverted):
    # edges is consumed three ways (deg + both self-join sides) and each
    # replays the fanout/fanin WindowGroupLimit chain, but a lazy
    # localCheckpoint measured consistently SLOWER in interleaved
    # same-session A/B (min 6.17 unpinned vs 6.41 pinned; every paired
    # run agreed): the replays are broadcast builds + join sides that
    # overlap as parallel stages over `half`'s already-pinned output, so
    # the pin only adds materialization (the r11 parallel-consumer
    # rule). The WGL chains themselves consume the HALF-pair table via
    # the mirror projection — the r10 fanout-sort concern was mostly
    # addressed by the r11 half-pair fix.
    edges = fwd.withColumn("rn", F.row_number().over(w_rev)).filter(
        F.col("rn") <= _CN_FANIN
    ).select("a", "b")
    deg = edges.groupBy(F.col("a").alias("node")).agg(F.count(F.lit(1)).alias("deg"))
    e1 = edges.select("a", F.col("b").alias("mid"))
    e2 = edges.select(F.col("a").alias("b"), F.col("b").alias("mid"))
    two_hop = (
        e1.join(e2, "mid")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    # two_hop already enforces a < b, so a candidate is a direct edge
    # iff it appears in the a<b HALF — anti-join the un-mirrored side
    # (half the build rows of the symmetric table).
    cand = two_hop.join(half.select("a", "b"), ["a", "b"], "left_anti")
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b"))
    scored = (
        cand.join(F.broadcast(da), "a")
        .join(F.broadcast(db), "b")
        .select(
            "a",
            "b",
            F.col("common").cast("bigint").alias("common"),
            F.round(
                F.col("common").cast("double") / (F.col("deg_a") + F.col("deg_b") - F.col("common")),
                6,
            ).alias("neighbor_jaccard"),
        )
    )
    return scored.orderBy(
        F.desc("common"), F.desc("neighbor_jaccard"), F.asc("a"), F.asc("b")
    ).limit(20)


# ---------------------------------------------------------------------------
# q270 — exact triangle count + global clustering coefficient over the
# co-purchase graph (the graph-stats companion to q126 PageRank / q215
# link prediction). Algorithm: DEGREE-ORDERED EDGE ORIENTATION (the
# standard scalable MapReduce formulation, Suri & Vassilvitskii "Counting
# Triangles and the Curse of the Last Reducer", WWW'11): orient every
# undirected edge from its lower-(deg, id) endpoint to the higher one —
# every out-neighborhood then has size O(sqrt(m)), so the wedge join
# E(u,v) ⋈ E(u,w) generates Σ outdeg(u)² = O(m^1.5) candidates
# REGARDLESS of hub skew (the unoriented wedge count Σ deg² is unbounded
# under power laws — the "last reducer" this kills). A semi-join of
# wedges against oriented edges closes triangles exactly once each.
#
# All counts are exact integers; the clustering coefficient
# 3·triangles / wedges(unoriented) rounds once at the end.
# ---------------------------------------------------------------------------
@register(
    "q270_triangle_count",
    oracle=f"""
    WITH {BASKETS_CTE},
    rawpairs AS (
      SELECT p1.part AS a, p2.part AS b
      FROM baskets, UNNEST(parts) AS p1(part), UNNEST(parts) AS p2(part)
      WHERE p1.part < p2.part),
    edges AS (SELECT a, b FROM rawpairs GROUP BY a, b
              HAVING COUNT(*) >= {_TRI_MIN_SUP}),
    deg AS (SELECT node, COUNT(*) AS d FROM (
              SELECT a AS node FROM edges UNION ALL SELECT b FROM edges)
            GROUP BY node),
    orient AS (
      SELECT CASE WHEN (da.d, e.a) < (db.d, e.b) THEN e.a ELSE e.b END AS src,
             CASE WHEN (da.d, e.a) < (db.d, e.b) THEN e.b ELSE e.a END AS dst,
             CASE WHEN (da.d, e.a) < (db.d, e.b) THEN db.d ELSE da.d END AS dstd
      FROM edges e JOIN deg da ON e.a = da.node JOIN deg db ON e.b = db.node),
    wedges AS (
      SELECT o1.dst AS v, o2.dst AS w
      FROM orient o1 JOIN orient o2 ON o1.src = o2.src
      WHERE (o1.dstd, o1.dst) < (o2.dstd, o2.dst)),
    tri AS (SELECT COUNT(*) AS t FROM wedges w
            WHERE EXISTS (SELECT 1 FROM orient o
                          WHERE o.src = w.v AND o.dst = w.w)),
    stats AS (
      SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
             (SELECT COUNT(*) FROM edges) AS n_edges,
             (SELECT SUM(d * (d - 1) // 2) FROM deg) AS n_wedges,
             (SELECT t FROM tri) AS n_triangles)
    SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
           CAST(n_edges AS BIGINT) AS n_edges,
           CAST(n_wedges AS BIGINT) AS n_wedges,
           CAST(n_triangles AS BIGINT) AS n_triangles,
           ROUND(3.0 * n_triangles / n_wedges, 6) AS global_cc
    FROM stats
    """,
)
def q270_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    baskets = lineitem_baskets(spark, sf_dir)
    pair_expr = F.expr(
        "flatten(transform(parts, a -> transform(filter(parts, b -> b > a),"
        " b -> struct(a AS a, b AS b))))"
    )
    # materialize the (small) edge set once: FIVE downstream branches
    # (deg ×2, orientation, wedge legs ×2, the closing semi-join, the
    # edge-count stat) would each replay the basket explode + pair agg,
    # exploding the physical plan (46 exchanges measured un-materialized
    # vs 7 after; the q237/q106 localCheckpoint pattern).
    edges = (
        baskets.select(F.explode(pair_expr).alias("p"))
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= _TRI_MIN_SUP)
        .drop("c")
        .localCheckpoint(eager=True)
    )
    deg = (
        edges.select(F.col("a").alias("node"))
        .unionAll(edges.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # orient low-(deg, id) -> high-(deg, id); carry dst's degree so the
    # wedge join can order its two legs without another deg lookup
    da, db = deg.alias("da"), deg.alias("db")
    e = (
        edges.join(da, F.col("a") == F.col("da.node"))
        .join(db, F.col("b") == F.col("db.node"))
        .select(
            "a", "b",
            F.col("da.d").alias("ad"), F.col("db.d").alias("bd"),
        )
    )
    fwd = (F.col("ad") < F.col("bd")) | (
        (F.col("ad") == F.col("bd")) & (F.col("a") < F.col("b"))
    )
    # three consumers (both wedge legs + the closing semi-join)
    orient = e.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.when(fwd, F.col("bd")).otherwise(F.col("ad")).alias("dstd"),
    ).localCheckpoint(eager=True)
    o1, o2 = orient.alias("o1"), orient.alias("o2")
    wedges = o1.join(o2, F.col("o1.src") == F.col("o2.src")).filter(
        (F.col("o1.dstd") < F.col("o2.dstd"))
        | (
            (F.col("o1.dstd") == F.col("o2.dstd"))
            & (F.col("o1.dst") < F.col("o2.dst"))
        )
    ).select(F.col("o1.dst").alias("v"), F.col("o2.dst").alias("w"))
    closed = wedges.join(
        orient.select(F.col("src").alias("v"), F.col("dst").alias("w")),
        ["v", "w"],
        "leftsemi",
    )
    tri = closed.agg(F.count(F.lit(1)).alias("t"))
    stats = (
        deg.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.sum(F.expr("d * (d - 1) div 2")).cast("bigint").alias("n_wedges"),
        )
        .crossJoin(F.broadcast(edges.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))))
        .crossJoin(F.broadcast(tri))
    )
    return stats.select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        F.col("t").cast("bigint").alias("n_triangles"),
        F.round(F.lit(3.0) * F.col("t") / F.col("n_wedges"), 6).alias("global_cc"),
    )
