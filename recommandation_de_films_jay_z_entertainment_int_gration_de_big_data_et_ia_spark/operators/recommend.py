"""Recommendation operators (SURVEY.md §2.9, M1–M2).

The reference trains ALS on (userId, movieId, rating) and materializes
top-10-per-user (``src/model.py:10-15``). Here:

- :func:`train_als` — MLlib ALS with a FIXED seed (the reference leaves the
  seed unset, which breaks reproducibility; §7.3 risk table) and user/item
  blocks sized to the input files, one per MiB up to MLlib's 10;
- :func:`als_recommendations` — ``recommendForAllUsers(k)`` flattened via
  explode + struct access (the reference's N2/N3 operators);
- :func:`popular_unseen` — a deterministic, oracle-checkable collaborative
  baseline: globally-popular items each user has *not* interacted with
  (anti join + global popularity + per-user top-k), the classic cold-start
  fallback. Scale shape: popularity is a small broadcast; the anti join
  shuffles on (user, item) only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# MLlib's numUserBlocks / numItemBlocks default, and the input bytes per block
_ALS_MAX_BLOCKS = 10
_ALS_BLOCK_BYTES = 1 << 20


def _als_blocks(ratings: DataFrame) -> int:
    """ALS user and item block count for ``ratings``: one per MiB of its
    input files, between 1 and MLlib's default of 10 (the default when the
    frame has no input files). File lengths come from the Hadoop
    ``FileSystem``, as in ``readers.pit_snapshot``; no Spark job runs.
    ``inputFiles()`` gives percent-escaped URIs, so each path is built
    from a ``java.net.URI`` (a space or ``%`` in a directory name)."""
    files = ratings.inputFiles()
    if not files:
        return _ALS_MAX_BLOCKS
    jvm = ratings.sparkSession._jvm
    conf = ratings.sparkSession._jsc.hadoopConfiguration()
    cap = _ALS_MAX_BLOCKS * _ALS_BLOCK_BYTES
    total = 0
    for f in files:
        path = jvm.org.apache.hadoop.fs.Path(jvm.java.net.URI(f))
        total += path.getFileSystem(conf).getFileStatus(path).getLen()
        if total >= cap:
            break
    return max(1, min(_ALS_MAX_BLOCKS, -(-total // _ALS_BLOCK_BYTES)))


def train_als(
    ratings: DataFrame,
    user_col: str,
    item_col: str,
    rating_col: str,
    rank: int = 8,
    max_iter: int = 5,
    reg_param: float = 0.01,
    seed: int = 42,
):
    """M1: ALS matrix factorization (reference config: maxIter=10,
    regParam=0.01, default rank 10 — model.py:10-11 — trimmed here for the
    test harness; every iteration is a pair of distributed solves).

    User and item blocks are sized to the input (:func:`_als_blocks`): one
    per MiB of the ratings' input files, between 1 and 10. MLlib's fixed
    10 × 10 grid runs 10 tasks in every stage of every solve and 100
    cross-join tasks in ``recommendForAllUsers``; on a small input that
    is mostly per-task overhead. The count comes from the data, not the
    host's cores, because MLlib seeds each block's initial factors by
    block id: the block count is part of the seeded model, and sizing by
    input gives the same model on every host. A frame without input
    files keeps MLlib's 10 blocks, the parallelism for a large in-memory
    input: one from ``createDataFrame`` or ``localCheckpoint``, and any
    cached or persisted frame, since ``inputFiles()`` reads the
    cache-substituted plan (an uncached read whose plan matches a cached
    one in the session too). So the block count, and with it the seeded
    model, can follow the session's cache state. The known under-estimate
    is a frame whose rows multiply after the scan, such as a many-to-many
    join: it is sized by the bytes it reads, not the rows it yields."""
    from pyspark.ml.recommendation import ALS

    blocks = _als_blocks(ratings)
    als = ALS(
        userCol=user_col,
        itemCol=item_col,
        ratingCol=rating_col,
        rank=rank,
        maxIter=max_iter,
        regParam=reg_param,
        seed=seed,
        coldStartStrategy="drop",
        numUserBlocks=blocks,
        numItemBlocks=blocks,
    )
    return als.fit(ratings)


def als_recommendations(model, k: int, user_col: str = "user", item_col: str = "item") -> DataFrame:
    """M2 + N2/N3: top-k per user, flattened to (user, item, predicted_rating)."""
    recs = model.recommendForAllUsers(k)
    exploded = recs.select(
        F.col(recs.columns[0]).alias(user_col), F.explode("recommendations").alias("rec")
    )
    return exploded.select(
        user_col,
        F.col("rec.*"),
    ).toDF(user_col, item_col, "predicted_rating")


def popular_unseen(
    interactions: DataFrame,
    user_col: str,
    item_col: str,
    users: DataFrame,
    k: int = 3,
    max_seen_per_user: int | None = 1000,
) -> DataFrame:
    """Top-k globally-popular items each user hasn't interacted with.

    ``users`` is the user frame to recommend for. Popularity ranks break
    ties by item id — fully deterministic.

    ``max_seen_per_user`` bounds candidate generation: popularity is
    truncated to the top-``k + max_seen_per_user`` items (a distributed
    partial top-k, ``TakeOrderedAndProject``) before the cross join, so
    candidates are O(|users| · (k + bound)) instead of |users| × |items| —
    the difference between a broadcastable frame and a cartesian
    scale-killer when ``users`` is the full user table. The result is
    IDENTICAL to the exact semantics whenever every cohort user has
    interacted with at most ``max_seen_per_user`` distinct items (then at
    least k of their top-``k + bound`` candidates are unseen, and any
    truncated item ranks below all of them). Pass ``None`` only for small
    cohorts where the full-popularity cross join is affordable.
    """
    pop = (
        interactions.groupBy(item_col)
        .agg(F.count(F.lit(1)).alias("popularity"))
    )
    if max_seen_per_user is not None:
        # same (popularity DESC, item ASC) order as the ranking below, so
        # truncation never reorders ties across the cut
        pop = pop.orderBy(F.desc("popularity"), F.asc(item_col)).limit(
            k + max_seen_per_user
        )
    cand = users.crossJoin(F.broadcast(pop))
    seen = interactions.select(user_col, item_col).distinct()
    unseen = cand.join(seen, on=[user_col, item_col], how="left_anti")
    w = Window.partitionBy(user_col).orderBy(F.desc("popularity"), F.asc(item_col))
    return (
        unseen.withColumn("rec_rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rec_rank") <= k)
        .select(user_col, item_col, "popularity", "rec_rank")
    )


# ---------------------------------------------------------------------------
# Scale-safe ALS batch top-k (round-10 VERDICT task 1, q402).
#
# ``recommendForAllUsers`` is a users × items block-matmul: growing both
# factors 10x makes the sf10 point ~100x FLOPs — the catalog's one
# quadratic operator (killed at >26 min in SCALE_r10.md). The machinery
# to make it linear already ships in this engine (q148 PQ codebooks,
# q149 ADC LUT scoring, q234 two-stage re-rank, q287 recall audit); this
# operator wires them to the factor matrices:
#
#   1. Product-quantize the ITEM factor matrix: m subspaces of the
#      rank-d vector, a tiny per-subspace codebook (Lloyd runs
#      driver-side in numpy over a bounded id-sorted sample — the
#      standard PQ training posture; r12 surgery, see ann_factor_topk),
#      items grouped into product cells (cell = the m-tuple of code
#      ids) by ONE vectorized mapInPandas pass — never a shuffle.
#      Per-user coarse cost stays O(cells), bounded.
#   2. Coarse stage, map-only over USERS: the whole index (per-subspace
#      codebooks + occupied-cell directory with item counts) folds into
#      ONE broadcast row (index metadata, the _centroid_frame idiom —
#      ~cells x (m bytes + count), no driver collect). Each user row
#      computes its ADC LUT (m x kcodes sub-dots) once, scores every
#      cell by m LUT lookups, sorts cells, and keeps the best cells
#      until their cumulative item count reaches the candidate budget.
#      No users x cells explode, no shuffle: one projection.
#   3. Exact re-rank: selected (user, cell) pairs join the item-cell
#      table on cell_key — shuffle_hash BOTH sides (both corpus-scaled;
#      never leave a corpus-scaled side broadcastable, the round-10
#      OOM lesson) — exact dot(u, i) on ~budget candidates per user,
#      top-k per user via WindowGroupLimit.
#
# Per-user cost is O(cells + budget), independent of |items|; total cost
# is linear in users + items. Recall vs exact recommendForAllUsers is
# pinned >= 0.95 at sf0.1 (tests/test_recommend.py); at sf <= 0.01 the
# budget covers the whole catalog and the result is exact.
# Reference anchor: src/model.py:13 (recommendForAllUsers(10)).
# ---------------------------------------------------------------------------


def pq_factor_codebook_np(
    samp, rank: int, m: int, kcodes: int, lloyd_iters: int = 2
):
    """Train per-subspace codebooks over an id-SORTED factor sample
    (numpy ``(n, rank)`` float64). Driver-side Lloyd — the standard PQ
    training posture (Jégou et al. train codebooks on a bounded sample;
    the sample here is the ``train_sample`` lowest-id vectors so the
    seeding is deterministic and identical to the former distributed
    form: seeds = the ``kcodes`` lowest-id vectors, assignment = L2
    argmin with ties to the smallest surviving cid, update = per-(s,
    cid) mean, codes that lose every member drop out while survivors
    keep their cids). Returns ``(cids, cents)``: per subspace ``s``,
    ``cids[s]`` the ascending surviving code ids and ``cents[s]`` the
    matching ``(len(cids[s]), rank/m)`` centroid matrix.

    Replaces r11's distributed Lloyd (3 eager localCheckpoint jobs + a
    codebook collect serialized on the driver, ~3 s of the q402 hot
    path at sf0.1) with zero Spark jobs: the codebook is index METADATA
    (m * kcodes * dim doubles), and the sample is bounded regardless of
    catalog size, so this is driver-bounded work at any scale.
    """
    import numpy as np

    dim = rank // m
    X = samp.reshape(len(samp), m, dim)
    cids = [np.arange(min(kcodes, len(samp)), dtype=np.int64) for _ in range(m)]
    cents = [X[: len(cids[s]), s].copy() for s in range(m)]
    for _ in range(lloyd_iters):
        for s in range(m):
            d = ((X[:, s, None, :] - cents[s][None, :, :]) ** 2).sum(axis=2)
            a = d.argmin(axis=1)  # first min = smallest surviving cid
            keep = np.unique(a)  # ascending positions == ascending cids
            cents[s] = np.stack([X[a == j, s].mean(axis=0) for j in keep])
            cids[s] = cids[s][keep]
    return cids, cents


def pq_assign_cells_np(
    itf: DataFrame, cids, cents, id_col: str, vec_col: str,
    rank: int, m: int, kcodes: int,
) -> DataFrame:
    """(id, vec as double, cell_key): nearest-code product-cell
    assignment — one corpus scan through ``mapInPandas`` with the tiny
    codebook captured in the task closure; the argmin is a vectorized
    numpy kernel instead of r11's interpreted zip_with/aggregate lambda
    folds (which evaluated the distance fold twice per subspace)."""
    import numpy as np
    import pandas as pd

    dim = rank // m
    out_schema = f"{id_col} int, {vec_col} array<double>, cell_key int"

    def _assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            ).reshape(len(pdf), m, dim)
            key = np.zeros(len(pdf), dtype=np.int64)
            for s in range(m):
                d = ((X[:, s, None, :] - cents[s][None, :, :]) ** 2).sum(axis=2)
                key = key * kcodes + cids[s][d.argmin(axis=1)]
            out = pdf[[id_col, vec_col]].copy()
            out["cell_key"] = key.astype("int32")
            yield out

    return itf.select(
        F.col(id_col).cast("int").alias(id_col),
        F.transform(vec_col, lambda x: x.cast("double")).alias(vec_col),
    ).mapInPandas(_assign, out_schema)


def ann_factor_topk(
    uf: DataFrame,
    itf: DataFrame,
    rank: int,
    k: int,
    cand_budget: int = 2048,
    m: int = 2,
    user_col: str = "user",
    item_col: str = "item",
    kcodes: int | None = None,
    lloyd_iters: int = 2,
    train_sample: int = 65536,
) -> DataFrame:
    """Approximate batch top-k over ALS factors: (user, item, score) with
    exactly k rows per user (budget >= k guaranteed by whole-cell
    selection). See the module-level design note.

    ``m``/``kcodes`` defaults (2/16 = 256 product cells) were retuned in
    r11 FOR rank=8, cand_budget≈4608 (recall@5 0.959 pinned at sf0.1);
    other ranks/budgets should re-validate recall before relying on the
    defaults. ``train_sample`` bounds the codebook-training sample (the
    ``train_sample`` lowest-id item vectors — deterministic), so index
    construction is driver-bounded at any catalog size; assignment and
    scoring always cover EVERY item.

    r12 index-build surgery (VERDICT r11 task 1 — the plan-build phase
    serialized ~6 driver actions, ~4.6 s of the 12.8 s warm path):
    ONE bounded collect fetches the training sample (replacing the
    separate itf.count()), Lloyd runs driver-side in numpy (replacing 3
    eager localCheckpoint jobs + a codebook collect), cell assignment is
    a vectorized mapInPandas (replacing interpreted zip_with/aggregate
    folds), the occupied-cell directory folds into ONE collect whose
    cell ids decode arithmetically from cell_key (no first(__cids)
    carry), and item_cells is lazily pinned so the directory action
    materializes the one assignment pass the re-rank then reuses.
    """
    import numpy as np
    import pandas as pd

    if kcodes is None:
        kcodes = 16  # kcodes^m product cells (16^2 = 256 at the default m)

    # ONE bounded driver action: the id-sorted training sample
    # (TakeOrderedAndProject — no full sort). Also yields the catalog
    # size when the sample covers it, which is all the kcodes clamp
    # needs (a sample >= train_sample rows already exceeds any kcodes).
    samp_rows = (
        itf.orderBy("id").limit(int(train_sample)).select("features").collect()
    )
    if not samp_rows:
        raise ValueError("ann_factor_topk: itemFactors is empty, no item to index")
    samp = np.array([list(r["features"]) for r in samp_rows], dtype=np.float64)
    kcodes = min(kcodes, max(2, len(samp)))

    cids, cents = pq_factor_codebook_np(
        samp, rank, m, kcodes, lloyd_iters=lloyd_iters
    )
    item_cells = pq_assign_cells_np(
        itf, cids, cents, "id", "features", rank, m, kcodes
    )
    # Lazy pin: the directory collect below materializes the single
    # assignment pass; the exact re-rank reuses it instead of re-running
    # the corpus scan (the r11 sequential-consumer rule).
    item_cells = item_cells.localCheckpoint(eager=False)

    # Occupied-cell directory: (cell_key, reconstructed centroid, item
    # count) — index METADATA, <= kcodes^m rows regardless of corpus
    # size, gathered in ONE collect (cell ids decode arithmetically from
    # cell_key, so the assignment no longer carries a __cids array) and
    # shipped to executors as a broadcast variable for the numpy coarse
    # stage. (The DATA — user and item factors — never touches the
    # driver.)
    spark = itf.sparkSession
    cells_rows = sorted(
        item_cells.groupBy("cell_key").agg(F.count(F.lit(1)).alias("n")).collect(),
        key=lambda r: r["cell_key"],
    )
    keys_np = np.array([r["cell_key"] for r in cells_rows], dtype=np.int64)
    counts_np = np.array([r["n"] for r in cells_rows], dtype=np.int64)
    pos = [{int(c): j for j, c in enumerate(cids[s])} for s in range(m)]

    def _cell_vec(key: int) -> "np.ndarray":
        digits = [(key // kcodes ** (m - 1 - s)) % kcodes for s in range(m)]
        return np.concatenate([cents[s][pos[s][d]] for s, d in enumerate(digits)])

    vecs_np = np.array([_cell_vec(int(k)) for k in keys_np], dtype=np.float64)
    bc = spark.sparkContext.broadcast((keys_np, vecs_np, counts_np))
    budget = int(cand_budget)

    # Coarse stage, map-only over USERS (no shuffle): one BLAS matmul of
    # each Arrow batch against the cell-centroid matrix, stable argsort
    # (score desc, ties -> lower cell_key: the directory is key-sorted),
    # then keep whole cells until the cumulative item count reaches the
    # budget. This is the engine's sanctioned vectorized-Python boundary
    # (SURVEY §2.8: Arrow batches + numpy kernels where per-row JVM
    # folds would interpret — a dense d x cells product per user is
    # exactly that case; the HOF-expression formulation measured ~19 ms
    # per user vs microseconds here).
    coarse_schema = (
        f"{user_col} int, __uf array<double>, cell_key int"
    )

    def _coarse(batches):
        keys, vecs, counts = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            U = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["__uf"]])
            S = U @ vecs.T  # n_users_batch x n_cells
            order = np.argsort(-S, axis=1, kind="stable")
            cnt_o = counts[order]
            csum = cnt_o.cumsum(axis=1)
            sel = (csum - cnt_o) < budget  # cells that start under budget
            n_sel = sel.sum(axis=1)
            uidx = np.repeat(np.arange(len(pdf)), n_sel)
            yield pd.DataFrame(
                {
                    user_col: pdf[user_col].to_numpy()[uidx],
                    "__uf": pdf["__uf"].to_numpy()[uidx],
                    "cell_key": keys[order[sel]],
                }
            )

    u = uf.select(
        F.col("id").cast("int").alias(user_col),
        F.transform("features", lambda x: x.cast("double")).alias("__uf"),
    )
    probes = u.mapInPandas(_coarse, coarse_schema)

    # Exact re-rank, cogrouped by cell: users probing a cell meet that
    # cell's items in one matmul; only the per-(user, cell) top-k leaves
    # the kernel (top-k of a union == top-k over per-cell top-ks), so
    # the Arrow boundary emits ~k * cells_probed rows per user, never
    # the full budget x users candidate set. Ties break item-ascending
    # (items are column-sorted; stable argsort). The global per-user
    # top-k merge stays JVM-side (WindowGroupLimit).
    items_side = item_cells.select(
        "cell_key",
        F.col("id").alias(item_col),
        F.col("features").alias("__if"),
    )
    out_schema = f"{user_col} int, {item_col} int, predicted_rating double"

    def _cell_topk(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(left) == 0 or len(right) == 0:
            return pd.DataFrame(
                {user_col: pd.Series(dtype="int32"),
                 item_col: pd.Series(dtype="int32"),
                 "predicted_rating": pd.Series(dtype="float64")}
            )
        right = right.sort_values(item_col)
        U = np.stack([np.asarray(v, dtype=np.float64) for v in left["__uf"]])
        I = np.stack([np.asarray(v, dtype=np.float64) for v in right["__if"]])
        S = U @ I.T
        kk = min(k, S.shape[1])
        top = np.argsort(-S, axis=1, kind="stable")[:, :kk]
        uidx = np.repeat(np.arange(len(left)), kk)
        iidx = top.ravel()
        return pd.DataFrame(
            {
                user_col: left[user_col].to_numpy()[uidx],
                item_col: right[item_col].to_numpy()[iidx],
                "predicted_rating": S[uidx, iidx],
            }
        )

    exact = (
        probes.groupBy("cell_key")
        .cogroup(items_side.groupBy("cell_key"))
        .applyInPandas(_cell_topk, out_schema)
    )
    w = Window.partitionBy(user_col).orderBy(F.desc("predicted_rating"), F.asc(item_col))
    return (
        exact.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )
