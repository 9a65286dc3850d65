"""Spatial grid-join query family, and Elasticsearch's geo aggregations
and queries (grids, centroid, bounds, distance sort and rings, shapes).

The engine-side pattern is the standard distributed spatial join: assign
every point to a fixed-size grid cell (cell edge = search radius), explode
the SMALLER side into its 3x3 neighbor cells, then equi-join on the cell
key — the cell id *is* the shuffle partitioner, so the join never goes
cartesian and each task only sees co-located cells. At 100 TB the
per-cell density (not total rows) bounds task size; skewed cells are
AQE-splittable because the join is a plain equi-join on (cy, cx).

The tables carry no coordinates, so both engines derive deterministic
synthetic lat/lon from the integer keys (pure BIGINT arithmetic + one
double divide — bit-identical in Spark and DuckDB). Points live on a
[0, 30) x [0, 30) plane with 1-degree cells (900 cells) and eps = 0.5,
giving a sparse-but-nonempty neighborhood structure at every SF.

Reference has no spatial operators; this is a north-star extension
(SURVEY.md §2.8 family).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.readers import load_table
from .catalog import register

_M = 3000  # plane is [0, 30) degrees at 2-decimal resolution
_EPS2 = 0.25  # radius 0.5 deg, squared

# per-axis multipliers (distinct odd primes, coprime with _M) — the
# derived point set is a deterministic lattice walk over the torus
_C_LAT, _C_LON = 7919, 104729
_S_LAT, _S_LON = 7907, 104717


def _pts(df: DataFrame, key: str, mlat: int, mlon: int, prefix: str) -> DataFrame:
    k = F.col(key)
    lat = ((k * F.lit(mlat)) % F.lit(_M)) / F.lit(100.0)
    lon = ((k * F.lit(mlon)) % F.lit(_M)) / F.lit(100.0)
    return df.select(
        key,
        *([c for c in df.columns if c != key and c.endswith("nationkey")]),
        lat.alias(f"{prefix}lat"),
        lon.alias(f"{prefix}lon"),
        F.floor(lat).cast("int").alias(f"{prefix}y"),
        F.floor(lon).cast("int").alias(f"{prefix}x"),
    )


def _grid9(supp: DataFrame) -> DataFrame:
    """Explode the supplier side into its 3x3 neighbor cells."""
    d3 = F.array(F.lit(-1), F.lit(0), F.lit(1))
    return (
        supp.withColumn("dy", F.explode(d3))
        .withColumn("dx", F.explode(d3))
        .select(
            "s_suppkey",
            "slat",
            "slon",
            (F.col("sy") + F.col("dy")).alias("gy"),
            (F.col("sx") + F.col("dx")).alias("gx"),
        )
    )


def _dist2(latc, lonc, lats, lons):
    dlat = latc - lats
    dlon = lonc - lons
    return dlat * dlat + dlon * dlon


_PTS_SQL = {
    "cust": f"""
      SELECT c_custkey, c_nationkey,
             ((c_custkey * {_C_LAT}) % {_M}) / 100.0 AS clat,
             ((c_custkey * {_C_LON}) % {_M}) / 100.0 AS clon,
             CAST(FLOOR(((c_custkey * {_C_LAT}) % {_M}) / 100.0) AS INT) AS cy,
             CAST(FLOOR(((c_custkey * {_C_LON}) % {_M}) / 100.0) AS INT) AS cx
      FROM customer""",
    "supp": f"""
      SELECT s_suppkey,
             ((s_suppkey * {_S_LAT}) % {_M}) / 100.0 AS slat,
             ((s_suppkey * {_S_LON}) % {_M}) / 100.0 AS slon,
             CAST(FLOOR(((s_suppkey * {_S_LAT}) % {_M}) / 100.0) AS INT) AS sy,
             CAST(FLOOR(((s_suppkey * {_S_LON}) % {_M}) / 100.0) AS INT) AS sx
      FROM supplier""",
}

_GRID_SQL = """
      SELECT s.*, s.sy + dy.d AS gy, s.sx + dx.d AS gx
      FROM supp s
      CROSS JOIN (VALUES (-1), (0), (1)) AS dy(d)
      CROSS JOIN (VALUES (-1), (0), (1)) AS dx(d)"""

_D2_SQL = "((c.clat - g.slat) * (c.clat - g.slat) + (c.clon - g.slon) * (c.clon - g.slon))"


@register(
    "q235_geo_radius_count",
    oracle=f"""
    WITH cust AS ({_PTS_SQL['cust']}),
    supp AS ({_PTS_SQL['supp']}),
    grid AS ({_GRID_SQL}),
    per_c AS (
      SELECT c.c_custkey,
             CAST(SUM(CASE WHEN {_D2_SQL} < {_EPS2} THEN 1 ELSE 0 END) AS BIGINT) AS n_nearby
      FROM cust c
      LEFT JOIN grid g ON c.cy = g.gy AND c.cx = g.gx
      GROUP BY c.c_custkey)
    SELECT n_nearby, CAST(COUNT(*) AS BIGINT) AS customers
    FROM per_c GROUP BY n_nearby ORDER BY n_nearby
    """,
)
def q235_geo_radius_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How many suppliers sit within radius eps of each customer —
    surfaced as a count histogram (zero-neighbor customers included via
    the left grid join). Grid-cell equi-join: candidate pairs are only
    those sharing a 3x3 neighborhood, never the cross product. The
    supplier side (x9 cells) is broadcast here because it is the small
    side at every test SF; at cluster scale the identical plan runs as a
    shuffle equi-join partitioned by (gy, gx)."""
    cust = _pts(load_table(spark, sf_dir, "customer"), "c_custkey", _C_LAT, _C_LON, "c")
    supp = _pts(load_table(spark, sf_dir, "supplier"), "s_suppkey", _S_LAT, _S_LON, "s")
    grid = _grid9(supp)
    j = cust.join(
        F.broadcast(grid), (F.col("cy") == F.col("gy")) & (F.col("cx") == F.col("gx")), "left"
    )
    within = F.when(
        _dist2(F.col("clat"), F.col("clon"), F.col("slat"), F.col("slon")) < F.lit(_EPS2), 1
    ).otherwise(0)
    per_c = j.groupBy("c_custkey").agg(F.sum(within).cast("bigint").alias("n_nearby"))
    return (
        per_c.groupBy("n_nearby")
        .agg(F.count(F.lit(1)).cast("bigint").alias("customers"))
        .orderBy("n_nearby")
    )


@register(
    "q236_geo_nearest",
    oracle=f"""
    WITH cust AS ({_PTS_SQL['cust']}),
    supp AS ({_PTS_SQL['supp']}),
    grid AS ({_GRID_SQL}),
    cand AS (
      SELECT c.c_custkey, g.s_suppkey, {_D2_SQL} AS d2,
             ROW_NUMBER() OVER (PARTITION BY c.c_custkey
                                ORDER BY {_D2_SQL}, g.s_suppkey) AS rn
      FROM cust c
      JOIN grid g ON c.cy = g.gy AND c.cx = g.gx
      WHERE c.c_nationkey = 0)
    SELECT c_custkey, s_suppkey, ROUND(d2, 6) AS dist2
    FROM cand WHERE rn = 1
    ORDER BY c_custkey
    """,
)
def q236_geo_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest supplier per customer (nation 0) within the 3x3 cell ring
    — the grid-bounded nearest-neighbor probe. Customers with an empty
    ring drop out (by design: an expanding-ring search is the production
    fallback). Deterministic tie-break on (dist2, s_suppkey). The
    nation filter is pushed to the customer scan; per-customer ranking is
    a WindowGroupLimit-style rn=1 over ring candidates only."""
    cust = _pts(load_table(spark, sf_dir, "customer"), "c_custkey", _C_LAT, _C_LON, "c").filter(
        F.col("c_nationkey") == 0
    )
    supp = _pts(load_table(spark, sf_dir, "supplier"), "s_suppkey", _S_LAT, _S_LON, "s")
    grid = _grid9(supp)
    cand = (
        cust.join(
            F.broadcast(grid), (F.col("cy") == F.col("gy")) & (F.col("cx") == F.col("gx"))
        )
        .withColumn(
            "d2", _dist2(F.col("clat"), F.col("clon"), F.col("slat"), F.col("slon"))
        )
    )
    w = Window.partitionBy("c_custkey").orderBy(F.col("d2").asc(), F.col("s_suppkey").asc())
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("c_custkey", "s_suppkey", F.round("d2", 6).alias("dist2"))
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# q293 — ES `geotile_grid` aggregation at zoom 3 over the synthetic
# customer point set (the q235 spatial fixture: deterministic lat/lon
# lattice derived from c_custkey on the [0, 30)^2 plane — see
# plans/spatial.py). Tile x/y are computed in PURE INTEGER arithmetic
# (scaled-coordinate * 2^z // plane), so bucket boundaries can never
# drift between engines; key is the ES "z/x/y" string.
#
# ES's geotile uses Web-Mercator y; on the synthetic plane the analog
# is the equirectangular power-of-two tiling — same bucket semantics
# (power-of-two subdivision, z/x/y keys), no trans-engine tan/ln.
#
# Shape (100 TB): scan-local key derivation + one tiny-cardinality
# map-combinable shuffle (<= 64 tiles at z=3).
# ---------------------------------------------------------------------------
_GT_Z = 3
_GT_CELLS = 1 << _GT_Z  # 8 tiles per axis over the 3000-unit plane


@register(
    "q293_geotile_grid",
    oracle=f"""
    WITH pts AS (
      SELECT ((c_custkey * 104729) % 3000) * {_GT_CELLS} // 3000 AS tx,
             ((c_custkey * 7919) % 3000) * {_GT_CELLS} // 3000 AS ty
      FROM customer)
    SELECT CAST('{_GT_Z}' AS VARCHAR) || '/' || CAST(tx AS VARCHAR) || '/'
             || CAST(ty AS VARCHAR) AS tile,
           CAST(COUNT(*) AS BIGINT) AS doc_count
    FROM pts GROUP BY tx, ty
    ORDER BY doc_count DESC, tile LIMIT 20
    """,
)
def q293_geotile_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    tx = F.floor(((k * 104729) % 3000) * _GT_CELLS / 3000).cast("bigint")
    ty = F.floor(((k * 7919) % 3000) * _GT_CELLS / 3000).cast("bigint")
    pts = cust.select(tx.alias("tx"), ty.alias("ty"))
    return (
        pts.groupBy("tx", "ty")
        .agg(F.count(F.lit(1)).cast("bigint").alias("doc_count"))
        .select(
            F.concat_ws("/", F.lit(str(_GT_Z)), F.col("tx"), F.col("ty")).alias("tile"),
            "doc_count",
        )
        .orderBy(F.desc("doc_count"), "tile")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q306 — ES `geo_centroid` aggregation per nation over the synthetic
# customer point set (q235/q293 fixture). The centroid is computed from
# the INTEGER scaled coordinates (sum of 2-decimal lattice units, two
# exact divides at the end), so there is no floating accumulation to
# drift between engines.
#
# Shape (100 TB): scan-local coordinate derivation, one map-combinable
# shuffle keyed by nation (25 rows out).
# ---------------------------------------------------------------------------
@register(
    "q306_geo_centroid",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           ROUND(CAST(SUM((c.c_custkey * 7919) % 3000) AS DOUBLE) / 100.0
                 / COUNT(*), 6) AS centroid_lat,
           ROUND(CAST(SUM((c.c_custkey * 104729) % 3000) AS DOUBLE) / 100.0
                 / COUNT(*), 6) AS centroid_lon
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name ORDER BY nation
    """,
)
def q306_geo_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    k = F.col("c_custkey")
    j = cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    return (
        j.groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_points"),
            F.round(
                F.sum((k * 7919) % 3000).cast("double") / 100.0 / F.count(F.lit(1)), 6
            ).alias("centroid_lat"),
            F.round(
                F.sum((k * 104729) % 3000).cast("double") / 100.0 / F.count(F.lit(1)), 6
            ).alias("centroid_lon"),
        )
        .orderBy("nation")
    )


# ---------------------------------------------------------------------------
# q310 — ES `geo_distance` sort: the 20 customers nearest to the plane
# center (15.00, 15.00) on the q235 synthetic lattice. Distances are
# EXACT squared lattice units (bigint — the lattice is integer
# hundredths of a degree), so the sort key never touches a float;
# the surfaced distance divides once at the end.
#
# Shape (100 TB): scan-local key derivation + TakeOrdered(20) — the
# per-partition top-k merge, no global sort materialization.
# ---------------------------------------------------------------------------
@register(
    "q310_geo_distance_sort",
    oracle="""
    WITH pts AS (
      SELECT c_custkey,
             (c_custkey * 7919) % 3000 AS ulat,
             (c_custkey * 104729) % 3000 AS ulon
      FROM customer)
    SELECT c_custkey,
           CAST((ulat - 1500) * (ulat - 1500)
                + (ulon - 1500) * (ulon - 1500) AS BIGINT) AS d2_units,
           ROUND(sqrt(CAST((ulat - 1500) * (ulat - 1500)
                + (ulon - 1500) * (ulon - 1500) AS DOUBLE)) / 100.0, 6)
             AS distance_deg
    FROM pts ORDER BY d2_units, c_custkey LIMIT 20
    """,
)
def q310_geo_distance_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    ulat = (k * 7919) % 3000
    ulon = (k * 104729) % 3000
    d2 = (ulat - 1500) * (ulat - 1500) + (ulon - 1500) * (ulon - 1500)
    return (
        cust.select(
            "c_custkey",
            d2.cast("bigint").alias("d2_units"),
            F.round(F.sqrt(d2.cast("double")) / 100.0, 6).alias("distance_deg"),
        )
        .orderBy("d2_units", "c_custkey")
        .limit(20)
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
# q348 — ES `geo_shape` query, polygon containment: which points fall
# inside a (non-convex) polygon, counted per nation. Ray-cast with the
# half-open crossing rule, done ENTIRELY in integer arithmetic on the
# 0..999 lattice (points derive from c_custkey exactly like q340's
# geohash lattice): for edge (x1,y1)->(x2,y2) a rightward ray from
# (px,py) crosses iff (y1>py) != (y2>py) and the signed area test
# t = (x1-px)*dy + (x2-x1)*(py-y1) has dy's sign — the division-free
# form of px < x_edge(py). Unrolled per edge as generated literals, so
# both engines evaluate the identical integer expression.
#
# Shape (100 TB): scan-local — one constant-depth integer projection
# per point (whole-stage codegen), then a map-combinable count keyed by
# nation; no join, no geometry library.
# ---------------------------------------------------------------------------
_GS_POLY = (  # non-convex pentagon-ish arrow on the 0..999 lattice
    (100, 100),
    (900, 150),
    (500, 450),
    (850, 800),
    (150, 850),
    (400, 500),
)


def _ray_cast_sql(px: str, py: str) -> str:
    """Generated integer crossing-count expression (DuckDB + Spark SQL
    share this string verbatim — both support CASE/AND/comparison)."""
    terms = []
    n = len(_GS_POLY)
    for i in range(n):
        x1, y1 = _GS_POLY[i]
        x2, y2 = _GS_POLY[(i + 1) % n]
        dy = y2 - y1
        if dy == 0:
            continue  # horizontal edge never crosses a horizontal ray
        spans = f"(({y1} > {py}) != ({y2} > {py}))"
        t = f"(({x1} - {px}) * {dy} + {x2 - x1} * ({py} - {y1}))"
        side = f"{t} > 0" if dy > 0 else f"{t} < 0"
        terms.append(f"(CASE WHEN {spans} AND ({side}) THEN 1 ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


@register(
    "q348_geo_shape_polygon",
    oracle=f"""
    WITH pts AS (
      SELECT c_nationkey,
             (c_custkey * 104729) % 1000 AS px,
             (c_custkey * 7919) % 1000 AS py
      FROM customer)
    SELECT CAST(c_nationkey AS INT) AS nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(SUM({_ray_cast_sql("px", "py")} % 2) AS BIGINT) AS n_inside
    FROM pts GROUP BY c_nationkey ORDER BY nationkey
    """,
)
def q348_geo_shape_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    pts = cust.select(
        F.col("c_nationkey").cast("int").alias("nationkey"),
        ((F.col("c_custkey") * 104729) % 1000).alias("px"),
        ((F.col("c_custkey") * 7919) % 1000).alias("py"),
    )
    inside = F.expr(f"{_ray_cast_sql('px', 'py')} % 2")
    return (
        pts.select("nationkey", inside.alias("inside"))
        .groupBy("nationkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_points"),
            F.sum("inside").cast("bigint").alias("n_inside"),
        )
        .orderBy("nationkey")
    )


# ---------------------------------------------------------------------------
# q354 — ES `geo_line` aggregation: per bucket (user), the track of
# points ordered by timestamp, truncated to the first `size` points
# (ES's geo_line size cap), surfaced as a "x:y|x:y|..." linestring plus
# the bucket's total point count. Points derive from event_id on the
# 0..999 integer lattice (q340/q348 convention — no float geometry).
#
# Shape (100 TB): the rank window filters to rank <= size so
# WindowGroupLimit prunes each user's sort to 10 rows BEFORE the
# exchange; the total counts come from a separate map-combinable agg
# broadcast back (same two-scan rationale as top_hits,
# operators/relational.py). Only users with >= 15 events are kept so
# the result stays selective.
# ---------------------------------------------------------------------------
_GL_SIZE = 10
_GL_MIN_EVENTS = 15


@register(
    "q354_geo_line",
    oracle=f"""
    WITH pts AS (
      SELECT user_id, ts, event_id,
             CAST((event_id * 104729) % 1000 AS VARCHAR) || ':' ||
             CAST((event_id * 7919) % 1000 AS VARCHAR) AS pt,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS rk
      FROM events),
    lines AS (
      SELECT user_id, string_agg(pt, '|' ORDER BY rk) AS line
      FROM pts WHERE rk <= {_GL_SIZE} GROUP BY user_id),
    totals AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY user_id)
    SELECT l.user_id, t.n_events, l.line
    FROM lines l JOIN totals t ON l.user_id = t.user_id
    WHERE t.n_events >= {_GL_MIN_EVENTS}
    ORDER BY l.user_id
    """,
)
def q354_geo_line(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    pt = F.concat_ws(
        ":",
        ((F.col("event_id") * 104729) % 1000).cast("string"),
        ((F.col("event_id") * 7919) % 1000).cast("string"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ranked = (
        ev.select("user_id", pt.alias("pt"), F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= _GL_SIZE)
    )
    lines = ranked.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("rk", "pt"))),
                lambda s: s["pt"],
            ),
            "|",
        ).alias("line")
    )
    totals = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events")
    )
    return (
        lines.join(F.broadcast(totals.filter(F.col("n_events") >= _GL_MIN_EVENTS)),
                   "user_id")
        .select("user_id", "n_events", "line")
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# q378 — ES `geo_distance` aggregation (ring buckets): concentric
# distance ranges from the q235/q310 plane center (15.00, 15.00) on
# the synthetic integer lattice — the "how far are my customers"
# histogram. Ring membership compares EXACT squared lattice units
# against squared edge literals (no sqrt in the predicate); edges at
# 5, 10, 15 degrees (500/1000/1500 units).
#
# Shape (100 TB): scan-local key derivation + CASE ring + one
# map-combinable 4-group aggregate; same zero-shuffle-before-agg
# shape as the rest of the geo family.
# ---------------------------------------------------------------------------


@register(
    "q378_geo_distance_rings",
    oracle="""
    WITH pts AS (
      SELECT c_custkey, c_acctbal,
             (c_custkey * 7919) % 3000 AS ulat,
             (c_custkey * 104729) % 3000 AS ulon
      FROM customer),
    d AS (
      SELECT c_custkey, c_acctbal,
             (ulat - 1500) * (ulat - 1500)
               + (ulon - 1500) * (ulon - 1500) AS d2
      FROM pts),
    b AS (
      SELECT CASE WHEN d2 < 250000 THEN '*-5.0'
                  WHEN d2 < 1000000 THEN '5.0-10.0'
                  WHEN d2 < 2250000 THEN '10.0-15.0'
                  ELSE '15.0-*' END AS ring,
             c_acctbal
      FROM d)
    SELECT ring,
           CAST(COUNT(*) AS BIGINT) AS doc_count,
           ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2)
             AS acctbal_sum
    FROM b GROUP BY ring ORDER BY ring
    """,
)
def q378_geo_distance_rings(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    k = F.col("c_custkey")
    ulat = (k * 7919) % 3000
    ulon = (k * 104729) % 3000
    d2 = (ulat - 1500) * (ulat - 1500) + (ulon - 1500) * (ulon - 1500)
    ring = (
        F.when(d2 < 250000, "*-5.0")
        .when(d2 < 1000000, "5.0-10.0")
        .when(d2 < 2250000, "10.0-15.0")
        .otherwise("15.0-*")
    )
    return (
        cust.select(ring.alias("ring"), "c_acctbal")
        .groupBy("ring")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("doc_count"),
            F.round(
                F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double"), 2
            ).alias("acctbal_sum"),
        )
        .orderBy("ring")
    )


# ---------------------------------------------------------------------------
# q388 — ES `geohex_grid` aggregation: bucket points into a HEXAGONAL
# grid (H3's tiling idea on the engine's synthetic integer lattice —
# the q340 geohash / q293 geotile convention: point = (custkey*104729
# % 1000, custkey*7919 % 1000)). A true H3 cell needs the H3 library
# and spherical math; the round-8 review sanctioned either that or an
# integer-exact hexagonal tiling. This is the latter, EXACT:
#
# A hexagonal lattice is the union of two staggered rectangular
# lattices — L1 centers at (a*W, b*H) and L2 at (a*W + W/2, b*H + H/2).
# Nearest-center (Voronoi) assignment over that union yields hexagonal
# cells when H/W ~ sqrt(3); we pin W=56, H=97 (97/56 = 1.73214..., vs
# sqrt(3) = 1.73205 — hexagons regular to 0.005%). All arithmetic runs
# in DOUBLED integer coordinates (X=2x, Y=2y) so both center lattices
# are integral (L2's half-offsets become integers), rounding is
# floor((t + half) / step) with positive-shifted operands (Spark DIV
# truncates toward zero, DuckDB // floors — identical only for
# non-negative operands), and the L1-vs-L2 choice compares exact
# integer squared distances with ties to L1. No float enters the plan.
#
# Shape (100 TB): scan-local key derivation + one map-combinable
# groupBy (bounded by the lattice size); top-20 is TakeOrdered.
# ---------------------------------------------------------------------------
_HEX_W2, _HEX_H2 = 112, 194  # doubled-coordinate lattice pitch (W=56, H=97)
_HEX_SHIFT = 1000  # positivity shift, in lattice steps


def _hex_sql(dialect: str) -> dict[str, str]:
    """Render the hex-assignment expressions for one dialect.

    Returns SQL strings for cx/cy (the chosen hex center, doubled
    coords) given integer point columns x, y."""
    div = "DIV" if dialect == "spark" else "//"
    w, h, s = _HEX_W2, _HEX_H2, _HEX_SHIFT

    def near(t: str, step: int, off: int) -> str:
        # nearest value of {a*step + off} to t, round-half-up:
        # a = floor((t - off + step/2) / step), positivity-shifted
        return (
            f"((({t} - {off} + {step // 2} + {step * s}) {div} {step})"
            f" * {step} + {off} - {step * s})"
        )

    cx1, cy1 = near("X", w, 0), near("Y", h, 0)
    cx2, cy2 = near("X", w, w // 2), near("Y", h, h // 2)
    d1 = f"((X - {cx1}) * (X - {cx1}) + (Y - {cy1}) * (Y - {cy1}))"
    d2 = f"((X - {cx2}) * (X - {cx2}) + (Y - {cy2}) * (Y - {cy2}))"
    return {
        "cx": f"(CASE WHEN {d1} <= {d2} THEN {cx1} ELSE {cx2} END)",
        "cy": f"(CASE WHEN {d1} <= {d2} THEN {cy1} ELSE {cy2} END)",
    }


_HEX_DUCK = _hex_sql("duck")
_HEX_SPARK = _hex_sql("spark")


@register(
    "q388_geohex_grid",
    oracle=f"""
    WITH pts AS (
      SELECT ((c_custkey * 104729) % 1000) * 2 AS X,
             ((c_custkey * 7919) % 1000) * 2 AS Y
      FROM customer),
    hexed AS (
      SELECT {_HEX_DUCK["cx"]} AS cx, {_HEX_DUCK["cy"]} AS cy FROM pts)
    SELECT CAST(cx AS VARCHAR) || ':' || CAST(cy AS VARCHAR) AS hex,
           CAST(COUNT(*) AS BIGINT) AS doc_count
    FROM hexed GROUP BY cx, cy
    ORDER BY doc_count DESC, hex LIMIT 20
    """,
)
def q388_geohex_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    pts = cust.select(
        (((F.col("c_custkey") * 104729) % 1000) * 2).alias("X"),
        (((F.col("c_custkey") * 7919) % 1000) * 2).alias("Y"),
    )
    hexed = pts.select(
        F.expr(_HEX_SPARK["cx"]).alias("cx"),
        F.expr(_HEX_SPARK["cy"]).alias("cy"),
    )
    return (
        hexed.groupBy("cx", "cy")
        .agg(F.count(F.lit(1)).cast("bigint").alias("doc_count"))
        .select(
            F.concat(
                F.col("cx").cast("string"), F.lit(":"), F.col("cy").cast("string")
            ).alias("hex"),
            "doc_count",
        )
        .orderBy(F.desc("doc_count"), "hex")
        .limit(20)
    )
