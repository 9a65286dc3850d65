"""Relational operator core (SURVEY.md §2.2–§2.7).

Every operator here is a thin, composable DataFrame transformation built
exclusively from Catalyst-optimizable built-ins: projections prune columns,
predicates push into scans, small-side joins broadcast, aggregations run
partial-then-final. Nothing collects to the driver.

Scale notes are attached per operator: these run unchanged on a
1000-executor cluster because they only ever express *logical* plans.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# Filters (F1–F2; reference preprocessing.py:9, elasticsearch_ingest.py:51)
# ---------------------------------------------------------------------------

def null_drop(df: DataFrame, subset: list[str] | None = None) -> DataFrame:
    """F1 ``na.drop`` — drop rows with nulls (optionally in a subset)."""
    return df.dropna(subset=subset)


# ---------------------------------------------------------------------------
# Joins (J1–J2; reference preprocessing.py:22, elasticsearch_ingest.py:70)
# ---------------------------------------------------------------------------

def join_broadcast_dim(fact: DataFrame, dim: DataFrame, on: str | list[str], how: str = "inner") -> DataFrame:
    """Equi-join with an explicit broadcast of the dimension side.

    At 100 TB the fact side never moves: broadcasting the (small) dim avoids
    shuffling the fact table entirely. The reference relied on Catalyst's
    auto-broadcast; the engine makes it deterministic with the hint.
    """
    return fact.join(F.broadcast(dim), on=on, how=how)


def semi_join(left: DataFrame, right: DataFrame, on: str | list[str]) -> DataFrame:
    """EXISTS — rows of ``left`` with a match in ``right`` (no right columns,
    no row multiplication, map-side when right broadcasts)."""
    return left.join(right, on=on, how="left_semi")


def anti_join(left: DataFrame, right: DataFrame, on: str | list[str]) -> DataFrame:
    """NOT EXISTS — rows of ``left`` with no match in ``right``."""
    return left.join(right, on=on, how="left_anti")


# ---------------------------------------------------------------------------
# Unpivot (U1; replaces the reference's 18× filter+union melt,
# elasticsearch_ingest.py:48-61 — single scan instead of 18)
# ---------------------------------------------------------------------------

def unpivot(df: DataFrame, ids: Sequence[str], value_cols: Sequence[str],
            var_name: str = "variable", value_name: str = "value") -> DataFrame:
    """Melt wide columns into (id, variable, value) rows in ONE pass.

    Uses ``stack``: one scan subtree, one Generate node — versus the
    reference's N filter+union branches which scan the source N times.
    """
    pairs = ", ".join(f"'{c}', `{c}`" for c in value_cols)
    expr = f"stack({len(value_cols)}, {pairs}) as (`{var_name}`, `{value_name}`)"
    return df.selectExpr(*ids, expr)


def one_hot_to_names(df: DataFrame, flag_cols: Sequence[str],
                     out_col: str = "genres") -> DataFrame:
    """The reference's genre rebuild (elasticsearch_ingest.py:48-67) as a
    per-row column: ``df`` plus ``out_col``, the names of the ``flag_cols``
    set to ``"1"``, built by filter+transform over an inline array of
    (name, flag) structs — no unpivot, no groupBy, no join, no shuffle.

    ``out_col`` is sorted, so results are deterministic (SURVEY §7.3).
    """
    entries = F.array(*[F.struct(F.lit(c).alias("name"), F.col(c).alias("flag")) for c in flag_cols])
    names = F.transform(F.filter(entries, lambda e: e["flag"] == "1"), lambda e: e["name"])
    return df.withColumn(out_col, F.array_sort(names))


# ---------------------------------------------------------------------------
# Aggregations (A1–A2; reference elasticsearch_ingest.py:65-67,81)
# ---------------------------------------------------------------------------

def collect_list_sorted(df: DataFrame, key: str | list[str], value_col: str, out_col: str) -> DataFrame:
    """A1 group + list-agg with deterministic (sorted) array output.

    ``collect_list`` is order-nondeterministic under shuffle; ``array_sort``
    restores determinism so results are testable (SURVEY §7.3).
    """
    keys = [key] if isinstance(key, str) else list(key)
    return df.groupBy(*keys).agg(F.array_sort(F.collect_list(value_col)).alias(out_col))


def histogram(df: DataFrame, col: str) -> DataFrame:
    """A2 value histogram — partial+final HashAggregate, no skew risk."""
    return df.groupBy(col).count().withColumnRenamed("count", "cnt")


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[str, str]],
    salt_buckets: int = 8,
) -> DataFrame:
    """Two-phase skew-resistant aggregation: group by (keys, random salt)
    first so a hot key's rows spread over ``salt_buckets`` reducers, then
    re-aggregate the partials by the real keys.

    ``aggs`` maps output column → (input column, fn) with fn ∈
    {'sum', 'count', 'min', 'max'} (the re-aggregable functions; count
    re-aggregates as sum). Results are identical to a direct groupBy —
    only the shuffle distribution changes — so the same oracle SQL holds.
    """
    refn = {"sum": "sum", "count": "sum", "min": "min", "max": "max"}
    salted = df.withColumn("__salt", (F.rand(seed=42) * salt_buckets).cast("int"))
    partial = salted.groupBy(*keys, "__salt").agg(
        *[
            (F.count(F.lit(1)) if fn == "count" else getattr(F, fn)(c)).alias(out)
            for out, (c, fn) in aggs.items()
        ]
    )
    return partial.groupBy(*keys).agg(
        *[getattr(F, refn[fn])(out).alias(out) for out, (_, fn) in aggs.items()]
    )


# ---------------------------------------------------------------------------
# Top-k / pagination (Q7–Q8; reference api.py:93,149,197-221)
# ---------------------------------------------------------------------------

def topk_global(df: DataFrame, order: list[Column], k: int) -> DataFrame:
    """Global top-k: ``orderBy().limit()`` → Catalyst's TakeOrderedAndProject
    (per-partition heap + driver merge of k rows; no full sort, no full
    shuffle — the scalable form at any data size)."""
    return df.orderBy(*order).limit(k)


def topk_per_group(df: DataFrame, partition_by: list[str], order: list[Column],
                   k: int, rank_col: str = "rn") -> DataFrame:
    """Per-group top-k via ``row_number`` window. One shuffle on the group
    key; AQE handles skewed groups. (The reference's per-user top-10 from
    ALS — model.py:13 — is this same shape.)"""
    w = Window.partitionBy(*partition_by).orderBy(*order)
    return df.withColumn(rank_col, F.row_number().over(w)).filter(F.col(rank_col) <= k)


def paginate(df: DataFrame, order: list[Column], page: int, size: int,
             max_size: int = 100) -> DataFrame:
    """Offset pagination with the reference's clamps (api.py:197-207):
    page ≥ 1, 1 ≤ size ≤ 100. Deterministic only if ``order`` is a total
    order — callers must include a tiebreaker key.

    Uses native ``offset``/``limit`` (Catalyst CollectLimit with
    offset+limit pushed together) rather than a row_number over an
    unpartitioned window, which would funnel every row through ONE
    partition — the global-sort anti-pattern this engine avoids."""
    page = max(1, page)
    size = min(max(1, size), max_size)
    lo = (page - 1) * size
    return df.orderBy(*order).offset(lo).limit(size)


def keyset_page(
    df: DataFrame,
    score_col: str,
    id_col: str,
    size: int,
    after: tuple | None = None,
) -> DataFrame:
    """Keyset ("search_after") pagination over a (score DESC, id ASC)
    ranking: the page strictly after cursor ``after = (score, id)``.

    The scale-correct alternative to offset pagination (ES caps from+size
    at 10k for the same reason): offset materializes and discards
    ``offset`` rows every page — O(offset + size) deepening per page —
    while the keyset predicate filters before the top-k, so every page
    costs one TakeOrderedAndProject over the filtered remainder and the
    predicate is pushdown-eligible. ``after=None`` returns page 1.
    """
    if after is not None:
        last_score, last_id = after
        df = df.filter(
            (F.col(score_col) < F.lit(last_score))
            | ((F.col(score_col) == F.lit(last_score)) & (F.col(id_col) > F.lit(last_id)))
        )
    return df.orderBy(F.desc(score_col), F.asc(id_col)).limit(size)


END_OF_TIME_S = 253_402_300_800  # 9999-01-01 UTC, the SCD2 open-end marker


def scd2_history(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    attr_col: str,
    tiebreak_col: str,
    end_of_time: int = END_OF_TIME_S,
) -> DataFrame:
    """Slowly-changing-dimension type-2 history from a change stream:
    per key, collapse consecutive identical ``attr_col`` values and emit
    versioned rows ``(key, attr, valid_from_s, valid_to_s, version)``.

    ``valid_to_s`` of the open (current) version is ``end_of_time``, the
    standard SCD2 high-date, rather than null — closed-open intervals
    stay filterable with plain range predicates (`valid_from <= t <
    valid_to` finds the version active at t) and engines agree on the
    type. ``tiebreak_col`` (a unique id) makes ordering total, so
    same-timestamp changes version deterministically.

    Scale shape: one shuffle on the key; both windows share the
    (key, ts, tiebreak) sort. This is the relational core of a
    MERGE-style upsert pipeline without a table format: at 100 TB the
    same expression runs per partition-pruned key range.
    """
    w0 = Window.partitionBy(key_col).orderBy("__t", "__tb")
    o = (
        df.select(
            F.col(key_col),
            F.col(attr_col),
            F.col(ts_col).cast("long").alias("__t"),
            F.col(tiebreak_col).alias("__tb"),
        )
        .withColumn("__prev", F.lag(attr_col).over(w0))
        .withColumn("__rn", F.row_number().over(w0))
    )
    # null-safe change test (IS DISTINCT FROM): `attr != prev` evaluates
    # to NULL when either side is NULL, which would drop transitions TO a
    # null value and then emit a duplicate version when the attribute
    # returns to its prior value. First row detected by row number, not
    # by prev IS NULL (a genuine null previous value is not a first row).
    chg = o.filter(
        (F.col("__rn") == 1) | ~F.col(attr_col).eqNullSafe(F.col("__prev"))
    )
    w2 = Window.partitionBy(key_col).orderBy("__t", "__tb")
    return chg.select(
        F.col(key_col),
        F.col(attr_col),
        F.col("__t").alias("valid_from_s"),
        F.coalesce(
            F.lead("__t").over(w2), F.lit(end_of_time).cast("long")
        ).alias("valid_to_s"),
        F.row_number().over(w2).cast("bigint").alias("version"),
    )


def salted_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    salt_buckets: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: the left (probe/fact) side gets a random
    salt in [0, salt_buckets); the right (build) side is replicated once
    per salt value; the join key becomes (key, salt). A hot key's rows now
    spread over ``salt_buckets`` reducers instead of one.

    Results are identical to ``left.join(right, key)`` — replication is on
    the build side only. Cost: build side × salt_buckets, so use for
    moderate build sides with pathological probe-side skew (AQE's skew
    join handles milder cases without the replication cost).
    """
    salted_left = left.withColumn("__salt", (F.rand(seed=42) * salt_buckets).cast("int"))
    salts = F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1))).alias("__salt")
    replicated_right = right.select("*", salts)
    cond = (salted_left[left_key] == replicated_right[right_key]) & (
        salted_left["__salt"] == replicated_right["__salt"]
    )
    return salted_left.join(replicated_right, cond, how).drop("__salt")


def asof_join_backward(
    left: DataFrame,
    right: DataFrame,
    on: str,
    ts: str,
    how: str = "inner",
) -> DataFrame:
    """As-of join (backward): for each left row, attach the single most
    recent right row of the same key with ``right.ts <= left.ts``.

    Spark has no ASOF operator (an inequality join compiles to
    BroadcastNestedLoopJoin, and a bucketed range join needs a bounded
    lookback); the scale-correct shape is JOIN-FREE: union-tag both
    sides, then a running ``last(right_payload, ignorenulls=True)`` over
    a (key, ts)-ordered window. Cost at any scale: one shuffle on the
    key + a per-key sort — no row-pair explosion, unbounded lookback,
    skew no worse than the key's own row count.

    Determinism: right rows are pre-reduced to one per (key, ts) by the
    lexicographic max of their payload struct; at equal timestamps the
    right row sorts before the left row, so a left row at ts T matches a
    right row at exactly T (``>=`` semantics, DuckDB ``ASOF JOIN``
    compatible).

    Returns ``left.* + <right ts as "{ts}_matched"> + right payload``.
    ``how='inner'`` drops left rows with no prior right row;
    ``'left'`` keeps them with nulls.
    """
    lcols = [c for c in left.columns if c != on]
    rcols = [c for c in right.columns if c not in (on, ts)]
    # SQL join semantics: a NULL key matches nothing. Window.partitionBy
    # groups NULLs together, so without this filter NULL-key left rows
    # would be "matched" to NULL-key right rows — diverging from any
    # real join (and the DuckDB ASOF JOIN oracle). Dropping NULL-key
    # right rows suffices: NULL-key left rows then find no match (kept
    # with nulls under how='left', dropped under 'inner').
    right = right.filter(F.col(on).isNotNull() & F.col(ts).isNotNull())
    rpay_t = F.struct(F.col(ts).alias(f"{ts}_matched"), *rcols)
    rpay = right.groupBy(on, ts).agg(F.max(rpay_t).alias("__rpay"))
    rtype = rpay.schema["__rpay"].dataType
    lf = left.select(
        F.col(on),
        F.col(ts).alias("__ts"),
        F.lit(1).alias("__tag"),
        F.struct(*lcols).alias("__lpay"),
        F.lit(None).cast(rtype).alias("__rpay"),
    )
    ltype = lf.schema["__lpay"].dataType
    rf = rpay.select(
        F.col(on),
        F.col(ts).alias("__ts"),
        F.lit(0).alias("__tag"),
        F.lit(None).cast(ltype).alias("__lpay"),
        "__rpay",
    )
    w = (
        Window.partitionBy(on)
        .orderBy("__ts", "__tag")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = (
        lf.unionByName(rf)
        .withColumn("__m", F.last("__rpay", ignorenulls=True).over(w))
        .filter(F.col("__tag") == 1)
    )
    if how == "inner":
        filled = filled.filter(F.col("__m").isNotNull())
    return filled.select(on, "__lpay.*", "__m.*")


def range_join_bucketed(
    events: DataFrame,
    ts_col: str,
    intervals: DataFrame,
    start_col: str,
    end_col: str,
    bucket: int,
    broadcast_intervals: bool = False,
) -> DataFrame:
    """Interval (range) join — event row matches interval rows with
    ``start <= ts < end`` — as an *equality-bucketed* join.

    Spark compiles a bare inequality join to BroadcastNestedLoopJoin
    (O(events × intervals) — a cliff at scale). Instead: both sides are
    bucketed at ``bucket`` granularity (events to one bucket, each
    interval exploded to every bucket it overlaps), equality-joined on
    the bucket — a plain shuffled hash join — then refined with the
    exact predicate. Cost: |intervals| × (len/bucket + 1) replicated
    rows; pick ``bucket`` ≈ typical interval length so the blow-up is
    ~2×. With a small interval side, ``broadcast_intervals=True`` skips
    the shuffle entirely.

    Columns are compared with their native ordering (longs or
    timestamps both work; ``cast("long")`` is a no-op on longs).
    """
    g = F.lit(bucket).cast("long")
    ev = events.withColumn(
        "__bkt", F.floor(F.col(ts_col).cast("long") / g).cast("long")
    )
    iv = intervals.withColumn(
        "__bkt",
        F.explode(
            F.sequence(
                F.floor(F.col(start_col).cast("long") / g).cast("long"),
                F.floor(F.col(end_col).cast("long") / g).cast("long"),
            )
        ),
    )
    if broadcast_intervals:
        iv = F.broadcast(iv)
    return (
        ev.join(iv, on="__bkt", how="inner")
        .filter((F.col(ts_col) >= F.col(start_col)) & (F.col(ts_col) < F.col(end_col)))
        .drop("__bkt")
    )


def merge_cdc(
    base: DataFrame,
    changes: DataFrame,
    key: str,
    op_col: str = "op",
) -> DataFrame:
    """MERGE INTO semantics as one full-outer join (the core Delta/Iceberg
    MERGE lowers to after file pruning): ``changes`` carries the key, an
    op column ('U' update / 'D' delete / 'I' insert), and new values for
    every non-key base column (same names). Deletes drop, updates win
    over base values, inserts append; every surviving row is labeled
    with ``merge_action`` in {'kept','updated','inserted'}.

    The changes batch is typically ≪ base, so AQE broadcasts it and base
    is never shuffled in that regime. Used by q123's fixture query
    (plans/tables.py q113) and fuzz-verified against DuckDB in
    tests/test_fuzz_differential.py.
    """
    payload = [c for c in base.columns if c != key]
    ch = changes.select(
        F.col(key).alias("__k"),
        F.col(op_col).alias("__op"),
        *[F.col(c).alias(f"__ch_{c}") for c in payload],
    )
    b = base.select(F.col(key).alias("__k"), *payload)
    merged = b.join(ch, "__k", "full_outer")
    keep = merged.filter(F.col("__op").isNull() | (F.col("__op") != "D"))
    # Change values apply UNCONDITIONALLY on a matched 'U'/'I' row — a
    # NULL in the change payload sets the column to NULL, exactly like
    # MERGE INTO ... UPDATE SET col = src.col (coalesce would silently
    # keep the base value and diverge from real MERGE semantics).
    return keep.select(
        F.col("__k").alias(key),
        *[
            F.when(F.col("__op").isNotNull(), F.col(f"__ch_{c}"))
            .otherwise(F.col(c))
            .alias(c)
            for c in payload
        ],
        F.when(F.col("__op") == "I", "inserted")
        .when(F.col("__op") == "U", "updated")
        .otherwise("kept")
        .alias("merge_action"),
    )


def top_hits(
    df: DataFrame,
    bucket_by: list[str],
    order: list[Column],
    k: int,
    hit_cols: Sequence[str],
    rank_col: str = "hit_rank",
    count_col: str = "doc_count",
) -> DataFrame:
    """ES ``top_hits`` aggregation: per bucket, the bucket's document
    count plus its top-``k`` full documents under ``order`` (ES's
    group-by-with-examples; the reference's ES stack exposes it to any
    user, docker-compose.yml:32, and the reference API itself returns
    size-bounded hit lists per query, src/api.py:93,149).

    Shape: the rank window filters to ``rank <= k`` so Spark's
    WindowGroupLimit prunes each partition's sort to the top-k BEFORE
    the exchange; bucket counts come from a separate map-combinable
    aggregation (|buckets| rows) broadcast back onto the k·|buckets|
    surviving hits. Two column-pruned scans beat one window that would
    have to keep every row alive for a COUNT over the full partition
    (that formulation defeats the group-limit pushdown).
    """
    w = Window.partitionBy(*bucket_by).orderBy(*order)
    hits = (
        df.select(*bucket_by, *hit_cols)
        .withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
    )
    counts = df.groupBy(*bucket_by).agg(
        F.count(F.lit(1)).cast("bigint").alias(count_col)
    )
    return hits.join(F.broadcast(counts), bucket_by)


def scripted_metric(
    df: DataFrame,
    bucket_by: list[str],
    order_by: list[str],
    map_cols: Sequence[str],
    init: Column,
    fold,
    cap: int = 10_000,
    metric_col: str = "metric",
    count_col: str = "doc_count",
) -> DataFrame:
    """ES ``scripted_metric`` aggregation analog: an arbitrary per-bucket
    fold (the map/combine/reduce escape hatch) made DETERMINISTIC by
    fixing the fold order. ``fold(state, row_struct) -> state`` is applied
    over the bucket's rows in ``order_by`` order; ``map_cols`` is the
    map-script projection (everything the script may read — Catalyst
    prunes the scan to exactly these plus the keys).

    Determinism: ES's scripted_metric is order-dependent across shards;
    this analog sorts each bucket on ``order_by`` before folding, so the
    result is independent of partitioning and identical to a single-
    threaded left-to-right fold (the engine's decimal/double-fold
    discipline, catalog.py).

    Shape: a rank window caps each bucket at ``cap`` rows BEFORE
    collect_list (WindowGroupLimit prunes the per-partition sort), so
    per-bucket state is bounded by spec — the same shard-memory bound ES
    imposes on the real scripted_metric — and the only shuffle is the
    bucket key. The uncapped bucket size is surfaced in ``count_col``.
    """
    w = Window.partitionBy(*bucket_by).orderBy(*order_by)
    capped = (
        df.select(*bucket_by, *dict.fromkeys([*order_by, *map_cols]))
        .withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= cap)
    )
    row = F.struct(*[F.col(c) for c in (*order_by, *map_cols)])
    agg = capped.groupBy(*bucket_by).agg(
        F.aggregate(
            F.sort_array(F.collect_list(row)),
            init,
            fold,
        ).alias(metric_col),
        F.count(F.lit(1)).cast("bigint").alias("__capped_n"),
    )
    counts = df.groupBy(*bucket_by).agg(
        F.count(F.lit(1)).cast("bigint").alias(count_col)
    )
    return agg.join(F.broadcast(counts), bucket_by).drop("__capped_n")
