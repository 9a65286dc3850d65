"""Deduplication operators for large-scale text pipelines.

Four families, each with the scalable Spark shape:
- **exact**: content-hash groupBy (one shuffle on the hash; survivors by
  min id — deterministic);
- **MinHash + LSH**: shingle → md5-based min-wise signatures → banded
  bucket self-join (shuffle on band keys, never all-pairs);
- **n-gram Jaccard verify**: exact set overlap on LSH candidates only;
- **SimHash**: per-token hash-bit voting → fingerprint; near-dup pairs by
  block-equality join + Hamming filter.

All hashing is md5-hex (portable to the DuckDB oracle); no engine-native
``hash()`` and no Python UDFs. The reference has no dedup at all — this is
the north-star extension surface (BASELINE.json), built Spark-first.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from ..functions.text import (
    md5_hex,
    minhash_band_keys,
    normalize_text,
    simhash_hex,
    tokens,
    word_shingles,
)


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Group by content hash of the *normalized* text; emit one survivor
    (min id) and the copy count per group. Emits every group, so callers
    can filter ``n_copies > 1`` for dup reporting or join back on
    ``survivor_id`` to realize the deduplicated corpus."""
    h = md5_hex(normalize_text(text_col)).alias("content_hash")
    return (
        df.select(F.col(id_col), h)
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("survivor_id"), F.count(F.lit(1)).alias("n_copies"))
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def doc_shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3,
                 out: str = "shingles", materialize: bool = False) -> DataFrame:
    """Distinct n-word shingles per document.

    Tokens are materialized in their own projection first: inlining the
    tokenizer expression into the shingle lambda would re-run the regexp
    split once per shingle index (measured 10× slower at sf0.1).

    ``materialize=True`` localCheckpoints the (id, shingles) frame (one
    small row per doc). Worth it ONLY when the consumer fans the frame
    into MANY branches that would each re-evaluate the ~1 ms/doc shingle
    expression (q237's PPJoin: 13 s → 7 s at sf0.1). The LSH family is
    signature-bound, not shingle-bound — measured neutral-to-slower
    there, so the default stays lazy.

    LIFETIME NOTE: an eager ``localCheckpoint`` pins its blocks in the
    block manager until the DataFrame is garbage-collected (Spark frees
    checkpoint blocks via the frame's cleaner hook, not a context
    manager). In a long-lived session running many materialized calls,
    call ``.unpersist()`` on the returned frame (or just drop the last
    reference) once the consuming query has executed; each catalog run
    holds at most one such frame at a time, so the steady-state
    footprint is one (id, shingles) frame, reclaimed on the next GC.
    """
    from ..functions.plan import spread_small_scan

    # Fan a sub-parallelism scan out before the tokenize/shingle folds
    # (and the minhash signature folds every LSH consumer stacks on
    # top) — single-row-group fixture files otherwise serialize the
    # whole text pipeline onto one core (guide §2.5; no-op at scale).
    toked = spread_small_scan(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), tokens(text_col).alias("__tk")
    )
    res = toked.select(
        F.col(id_col), F.array_distinct(word_shingles(F.col("__tk"), n)).alias(out)
    )
    return res.localCheckpoint(eager=True) if materialize else res


def minhash_bands(
    df: DataFrame, id_col: str, shingle_col: str = "shingles",
    num_hashes: int = 8, bands: int = 4,
) -> DataFrame:
    """(id, band, key) rows: the banded LSH index. ``num_hashes`` must be
    divisible by ``bands``; a band's key concatenates its rows of the
    signature. This frame is also a persistable index — at scale, write it
    partitioned by band and bucket-joined on (band, key).

    Keys come from :func:`minhash_band_keys` (single signature fold);
    extracting per-band keys out of a signature column would re-evaluate
    the fold once per band after projection collapsing."""
    keys = minhash_band_keys(F.col(shingle_col), num_hashes, bands)
    return df.select(F.col(id_col), F.posexplode(keys).alias("band", "key"))


def lsh_candidate_pairs(bands_df: DataFrame, id_col: str,
                        max_bucket: int | None = 200) -> DataFrame:
    """Distinct (id_a < id_b) pairs sharing any band key.

    Implemented as bucket-aggregate + in-bucket pair explosion rather than
    a self-join: the (expensive) signature subtree is evaluated ONCE, there
    is a single shuffle on (band, key), and pair generation is pure array
    math inside each bucket. Equivalent output to the textbook self-join —
    measured 2× faster at sf0.1 (the self-join re-computes the signature
    pipeline for both sides and shuffles twice).

    Mega-bucket hazard: pair count is quadratic in bucket size, and on a
    boilerplate-heavy corpus one hot band key materializes the whole
    quadratic pair array inside a single row (observed JVM OOM on the
    SimHash twin before its cap, PERF.md item 3). ``max_bucket`` drops
    buckets above the cap — same guard as :func:`simhash_pairs`, same
    rationale: a bucket shared by thousands of documents carries no
    blocking signal. The cap is part of the operator's spec so oracles
    mirror it deterministically (``HAVING COUNT(*) BETWEEN 2 AND cap``);
    pass ``None`` for the exact uncapped semantics.
    """
    size_gate = F.size("ids") > 1
    if max_bucket is not None:
        size_gate = size_gate & (F.size("ids") <= max_bucket)
    buckets = (
        bands_df.groupBy("band", "key")
        .agg(F.array_sort(F.collect_list(id_col)).alias("ids"))
        .filter(size_gate)
    )
    pair_expr = F.expr(
        "flatten(transform(ids, (a, i) ->"
        " transform(slice(ids, i + 2, size(ids)), b -> struct(a AS id_a, b AS id_b))))"
    )
    return (
        buckets.select(F.explode(pair_expr).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def _shingle_jaccard() -> Column:
    """Exact Jaccard |A∩B| / |A∪B| of the ``__sa`` / ``__sb`` shingle
    sets, in double, rounded to 4."""
    return F.round(
        F.size(F.array_intersect("__sa", "__sb")).cast("double")
        / F.size(F.array_union("__sa", "__sb")).cast("double"),
        4,
    )


def jaccard_verify(
    pairs: DataFrame, shingles_df: DataFrame, id_col: str,
    shingle_col: str = "shingles",
    threshold: float = 0.0,
) -> DataFrame:
    """Exact n-gram Jaccard on candidate pairs (the verify step): joins the
    shingle sets back (two hash joins on id) and computes
    |A∩B| / |A∪B| in double, rounded to 4."""
    sa = shingles_df.select(F.col(id_col).alias("id_a"), F.col(shingle_col).alias("__sa"))
    sb = shingles_df.select(F.col(id_col).alias("id_b"), F.col(shingle_col).alias("__sb"))
    # shuffle_hash hint (round-10 sf10 audit): BOTH sides here scale
    # with the corpus (pairs with the duplication rate, shingles with
    # doc count), but Catalyst's ESTIMATED post-explode/filter stats
    # undersize the pairs side, and the initial plan's broadcast choice
    # OOM'd the driver at sf10 ("Not enough memory to build and
    # broadcast") on the localCheckpoint materialization path (q90/
    # q199/q233), where the estimate-based plan executes as-is. AQE can
    # promote a shuffle join to broadcast from accurate runtime sizes;
    # it cannot demote a bogus initial broadcast — so never leave a
    # corpus-scaled side broadcastable by estimate.
    # ... and the hint must cover BOTH joins: hinting only `pairs` left
    # the second join (vs `sb`, also corpus-scaled) eligible for AQE's
    # runtime broadcast promotion from its compressed shuffle size — the
    # same ~100:1-compression driver-OOM class. Hint each corpus-scaled
    # side at its own join.
    joined = (
        pairs.hint("shuffle_hash")
        .join(sa.hint("shuffle_hash"), "id_a")
        .join(sb.hint("shuffle_hash"), "id_b")
    )
    jac = _shingle_jaccard().alias("jaccard")
    return joined.select("id_a", "id_b", jac).filter(F.col("jaccard") >= threshold)


def build_dedup_index(
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The corpus-side state :func:`incremental_dedup` needs, as three
    persistable frames — write them as parquet once per corpus snapshot
    and every future increment runs WITHOUT touching the corpus:

    - ``hashes(content_hash)`` — distinct normalized-content hashes
      (the exact-dup gate);
    - ``bands(id, band, key)`` — the banded MinHash index (candidate
      generation);
    - ``shingles(id, shingles)`` — per-doc distinct shingle sets (the
      Jaccard verify side).
    """
    hashes = corpus.select(
        md5_hex(normalize_text(text_col)).alias("content_hash")
    ).distinct()
    shingles = doc_shingles(corpus, id_col, text_col, n)
    band_keys = minhash_bands(shingles, id_col, num_hashes=num_hashes, bands=bands)
    return hashes, band_keys, shingles


def incremental_dedup(
    batch: DataFrame,
    corpus: DataFrame | None,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.5,
    max_bucket: int | None = 200,
    index: tuple[DataFrame, DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Admit the ``batch`` docs that duplicate nothing in ``corpus`` —
    the incremental-ingest shape (daily crawl vs historical corpus).
    Re-running the self-dedup pipeline over corpus+batch would cost
    O(|corpus| + |batch|) per increment; with the corpus index persisted
    this costs O(|batch|).

    Two gates, both cross-frame only (batch-internal dups are the
    self-dedup pipeline's job):

    1. **exact** — anti-join on the normalized-content hash;
    2. **near** — batch band keys joined to corpus band keys
       (:func:`minhash_bands` both sides), candidates verified by exact
       n-gram Jaccard ≥ ``threshold``; any verified hit rejects the
       batch doc.

    Scale shape: pass ``index`` (:func:`build_dedup_index` output, read
    back from parquet) and a production increment recomputes signatures
    for the BATCH only — the plan never scans the corpus at all
    (guarded by tests/test_plans.py::test_incremental_dedup_index_skips_corpus_scan).
    With ``corpus`` given instead, the same index frames are derived
    inline (self-contained, e.g. the q99 oracle query) — identical plan
    from the joins down. ``max_bucket`` caps the CORPUS bucket size
    (the candidate fan-out side): a band key shared by thousands of
    corpus docs carries no blocking signal but multiplies candidates;
    the cap is part of the spec and mirrored in the oracle.

    Returns the admitted ``(id_col)`` rows.
    """
    if index is None:
        if corpus is None:
            raise ValueError("pass either corpus or index")
        hashes, cb, csh = build_dedup_index(
            corpus, id_col, text_col, n=n, num_hashes=num_hashes, bands=bands
        )
        # Inline-derived index frames are consumed MULTIPLE times (cb by
        # the bucket-cap aggregate AND the semi join; csh by the verify
        # join) — lazily, each consumer re-runs the corpus scan + the
        # md5 signature fold, which dominates this operator. Materialize
        # them once: the frames are small (one row per doc / per band
        # key), and this cut the inline q99 run 33 -> 22 s at sf1. The
        # production path (``index`` passed, parquet-backed) needs no
        # checkpoint — the files ARE the materialization. Same lifetime
        # note as doc_shingles: blocks free when the frames are GC'd.
        cb = cb.localCheckpoint(eager=True)
        csh = csh.localCheckpoint(eager=True)
    else:
        hashes, cb, csh = index
    bh = batch.select(F.col(id_col), md5_hex(normalize_text(text_col)).alias("__h"))
    ch = hashes.select(F.col("content_hash").alias("__h"))
    exact_ok = bh.join(ch, "__h", "left_anti").select(id_col)

    survivors = batch.join(exact_ok, id_col, "left_semi")
    bsh = doc_shingles(survivors, id_col, text_col, n)
    bb = minhash_bands(bsh, id_col, num_hashes=num_hashes, bands=bands)
    if max_bucket is not None:
        small = (
            cb.groupBy("band", "key")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") <= max_bucket)
            .select("band", "key")
        )
        cb = cb.join(small, ["band", "key"], "left_semi")
    cand = (
        bb.join(cb.select("band", "key", F.col(id_col).alias("__cid")), ["band", "key"])
        .select(F.col(id_col).alias("id_a"), F.col("__cid").alias("id_b"))
        .distinct()
    )
    # two-frame verify: id_a is always a batch doc and id_b always a
    # corpus doc, so join each side to its own shingle frame — a
    # union-sourced verify would evaluate BOTH shingle pipelines on both
    # join branches (6 evaluations of the scan+shingle subtree vs 4;
    # measured 1.13x on q99 at sf0.1)
    sa = bsh.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("__sa"))
    sb = csh.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("__sb"))
    jac = _shingle_jaccard()
    rejected = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(jac >= F.lit(threshold))
        .select(F.col("id_a").alias(id_col))
        .distinct()
    )
    return exact_ok.join(rejected, id_col, "left_anti")


def minhash_dedup_pairs(
    df: DataFrame, id_col: str, text_col: str,
    n: int = 3, num_hashes: int = 8, bands: int = 4, threshold: float = 0.0,
    max_bucket: int | None = 200,
) -> DataFrame:
    """End-to-end MinHash-LSH near-dup pipeline: shingle → band → bucket
    join → exact-Jaccard verify ≥ threshold."""
    sh = doc_shingles(df, id_col, text_col, n)
    cand = lsh_candidate_pairs(
        minhash_bands(sh, id_col, num_hashes=num_hashes, bands=bands), id_col,
        max_bucket=max_bucket,
    )
    return jaccard_verify(cand, sh, id_col, threshold=threshold)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash_fingerprints(df: DataFrame, id_col: str, text_col: str, bits: int = 32) -> DataFrame:
    """(id, fingerprint) — fingerprint is a bits-char '0'/'1' string.

    32 bits by default: with 4 blocks the pigeonhole guarantee covers
    Hamming ≤ 3 while keeping block values selective enough that bucket
    sizes (and the quadratic in-bucket pair cost) stay small — 16-bit
    fingerprints produced 3M candidate pairs on a 5k corpus (58 s);
    32-bit cuts that ~15×."""
    from ..functions.plan import spread_small_scan

    # the per-token bit-vote fold is the dominant cost — spread a
    # sub-parallelism scan before it (guide §2.5; no-op at scale)
    return spread_small_scan(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), simhash_hex(tokens(text_col), bits).alias("fingerprint")
    )


def simhash_pairs(
    fp_df: DataFrame, id_col: str, bits: int = 32, blocks: int = 4, max_hamming: int = 3,
    max_bucket: int = 200,
) -> DataFrame:
    """Near-dup pairs by the block trick: fingerprints within Hamming
    distance ≤ max_hamming must share at least one of ``blocks`` equal
    blocks (pigeonhole, since max_hamming < blocks), so candidates come
    from block-equality buckets, then the exact Hamming filter verifies.

    Same bucket-aggregate + pair-explosion shape as
    :func:`lsh_candidate_pairs` (fingerprint subtree evaluated once, one
    shuffle) with the fingerprint carried through the bucket structs.

    ``max_bucket`` drops buckets larger than the cap — the standard
    guard for degenerate corpora where many near-identical token
    distributions share a block value (a 3k-doc bucket is 5M candidate
    pairs; such buckets carry no blocking signal). The cap is part of the
    operator's spec so the oracle mirrors it deterministically.
    """
    assert bits % blocks == 0
    width = bits // blocks
    # Exchange barrier: the fingerprint column is referenced 5× below
    # (4 block keys + the struct); without the barrier projection collapse
    # re-inlines the full bit-vote fold per reference.
    fp_df = fp_df.repartition(F.col(id_col))
    keys = F.array(
        *[
            F.concat(F.lit(f"{b}:"), F.substring("fingerprint", b * width + 1, width))
            for b in range(blocks)
        ]
    )
    # The '0'/'1' fingerprint string becomes a long ONCE per doc here, so
    # each candidate pair costs a single xor+bit_count (vs 32 substr
    # comparisons) and the bucket shuffle carries 8 bytes, not 32 chars.
    fp_int = F.conv("fingerprint", 2, 10).cast("long")
    blocked = fp_df.select(
        F.struct(F.col(id_col).alias("id"), fp_int.alias("fp")).alias("m"),
        F.explode(keys).alias("block"),
    )
    buckets = (
        blocked.groupBy("block")
        .agg(F.array_sort(F.collect_list("m")).alias("ms"))
        .filter((F.size("ms") > 1) & (F.size("ms") <= max_bucket))
    )
    pair_expr = F.expr(
        "flatten(transform(ms, (a, i) -> transform(slice(ms, i + 2, size(ms)),"
        " b -> struct(a.id AS id_a, b.id AS id_b, a.fp AS fa, b.fp AS fb))))"
    )
    cand = (
        buckets.select(F.explode(pair_expr).alias("p"))
        .select("p.id_a", "p.id_b", "p.fa", "p.fb")
        .distinct()
    )
    ham = F.bit_count(F.col("fa").bitwiseXOR(F.col("fb"))).cast("bigint").alias("hamming")
    return cand.select("id_a", "id_b", ham).filter(F.col("hamming") <= max_hamming)


# Largest symmetric edge set ``dedup_clusters`` resolves on the driver:
# 1M int64 pairs are 16 MB of Arrow, and a union-find over them is a few
# numpy passes; larger graphs keep the distributed label propagation.
DRIVER_EDGE_BOUND = 1_000_000


def _min_roots(a: np.ndarray, b: np.ndarray, n: int) -> np.ndarray:
    """Min-root union-find over the code pairs ``(a, b)`` of ``n`` nodes:
    ``root[x]`` is the smallest code in x's component. Each round hooks
    every root that has a cross edge onto the smallest root it touches,
    then compresses the pointers to roots, so the number of trees at
    least halves per round."""
    root = np.arange(n)
    while True:
        ra, rb = root[a], root[b]
        cross = ra != rb
        if not cross.any():
            return root
        np.minimum.at(root, np.maximum(ra, rb)[cross], np.minimum(ra, rb)[cross])
        while not np.array_equal(nxt := root[root], root):
            root = nxt


def _driver_clusters(edges: pa.Table) -> pa.Table:
    """``(node, cluster_id)`` of the symmetric edge table ``(a, b)``, with
    the label propagation's answer for a null id: a null node takes the
    smallest cluster id among its non-null neighbours (null when it has
    none), and no label crosses a null node."""
    a, b = (edges.column(c).combine_chunks() for c in ("a", "b"))
    ids = np.unique(pc.drop_null(a).to_numpy(zero_copy_only=False))

    def code(arr: pa.Array, mask: pa.Array) -> np.ndarray:
        return np.searchsorted(ids, arr.filter(mask).to_numpy(zero_copy_only=False))

    both = pc.and_(a.is_valid(), b.is_valid())
    labels = ids[_min_roots(code(a, both), code(b, both), len(ids))]
    nodes, clusters = pa.array(ids, a.type), pa.array(labels, a.type)
    if a.null_count:
        near = labels[code(b, pc.and_(a.is_null(), b.is_valid()))]
        nodes = pa.concat_arrays([nodes, pa.nulls(1, a.type)])
        clusters = pa.concat_arrays([clusters, pa.array([near.min() if len(near) else None], a.type)])
    return pa.table({"node": nodes, "cluster_id": clusters})


def dedup_clusters(pairs: DataFrame) -> DataFrame:
    """Resolve near-dup ``(id_a, id_b)`` pairs into clusters: connected
    components, each node labeled with the smallest id reachable through
    the pair graph (the cluster's keeper). Returns (node, cluster_id) for
    every node that appears in a pair.

    The upstream plan of ``pairs`` runs once, into a checkpointed
    symmetric edge set. Two paths follow:

    - **Driver union-find** when the edge set holds at most
      ``DRIVER_EDGE_BOUND`` rows (1M, 16 MB of int64 pairs): one
      ``limit().toArrow()`` collect, ``_min_roots`` over the ids'
      sorted codes, and the result frame built from the Arrow table.
      Five Spark jobs, where the loop spends 15-20 on a few hundred
      edges (Kiveris et al., SoCC 2014: a small graph is cheapest on
      one machine).
    - **Label propagation** above the bound, kept for the graphs that
      outgrow the driver (q78, q90, q117, q199 and q233 call this at
      sf10): each round is two joins + an aggregate, and pointer jumping cuts
      the rounds from the graph diameter to about its log. It always
      runs to convergence: a label only ever decreases and only ever
      holds a node id of its component, so the loop terminates within
      the longest-path length and never returns a split component.

    Both paths return the same schema and the same rows, a null id
    included (``_driver_clusters``).
    """
    edges = (
        pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
        .unionAll(pairs.select(F.col("id_b").alias("a"), F.col("id_a").alias("b")))
        .distinct()
        # materialize once: every round reads the edge set, and (crucially)
        # each iteration below truncates lineage — otherwise round N
        # re-executes rounds 1..N-1 (quadratic re-computation).
        .localCheckpoint(eager=True)
    )
    head = edges.limit(DRIVER_EDGE_BOUND + 1).toArrow()
    if head.num_rows <= DRIVER_EDGE_BOUND:
        a = edges.schema["a"]
        schema = StructType([StructField("node", a.dataType, a.nullable),
                             StructField("cluster_id", a.dataType, True)])
        return edges.sparkSession.createDataFrame(_driver_clusters(head), schema)
    # Round 1 fused into the init aggregate: propagating from the identity
    # labeling (label(x) = x) yields label(x) = min(x, min neighbor id),
    # which one groupBy over the edge set computes directly — the first
    # loop iteration's join + union + aggregate (and its convergence
    # probe) never run. Also subsumes the old `select(a).distinct()` node
    # derivation (same shuffle, now doing useful work).
    labels = (
        edges.groupBy(F.col("a").alias("node"))
        .agg(F.min("b").alias("__mb"))
        .select("node", F.least("node", "__mb").alias("label"))
        .localCheckpoint(eager=True)
    )
    while True:
        # shuffle_hash hints (round-10 sf10 audit): both loop joins are
        # node/edge-scaled, so broadcasting either side is never the
        # right plan at scale — yet AQE promoted one to broadcast from
        # its COMPRESSED runtime shuffle size (replicated ids compress
        # ~100:1; "under 32 MB" deserialized into gigabytes) and the
        # driver-side build OOM'd at sf10 (q90/q199/q233/q78, "Not
        # enough memory to build and broadcast" on the localCheckpoint
        # materialization). An explicit join hint survives AQE
        # re-optimization, so the loop is pinned shuffle-side forever.
        # Path halving at zero extra actions: besides the real edges,
        # propagate through the POINTER edges (x -> label(x)). The join
        # below then delivers label(label(x)) to x in the same round —
        # the classic pointer-jumping shortcut — so rounds needed drop
        # from the component diameter to ~log2(diameter). Safe for the
        # min-label fixpoint: a pointer edge connects provably-connected
        # nodes (labels only ever hold reachable node ids), so no foreign
        # label can propagate, and the fixpoint condition (no change
        # under one full round) is unchanged. Measured on q117's
        # embedding graph (diameter 14 at sf0.1): 14 -> 5 rounds.
        ptr = labels.select(F.col("node").alias("a"), F.col("label").alias("b"))
        neigh = (
            edges.select("a", "b").unionAll(ptr)
            .join(labels.hint("shuffle_hash"), F.col("b") == labels.node)
            .select(F.col("a").alias("node"), "label")
        )
        # Convergence detection rides the SAME aggregate that computes the
        # new labels: the old labeling has exactly one row per node, so
        # min(label WHERE old) recovers it per group and `changed` is a
        # filter+count over the just-checkpointed blocks — the previous
        # new-vs-old join (a full extra shuffle join per iteration, 2
        # exchanges) is gone (guide §2.4).
        unioned = labels.select(
            "node", "label", F.lit(True).alias("__old")
        ).unionAll(neigh.select("node", "label", F.lit(False).alias("__old")))
        new_labels = (
            unioned.groupBy("node")
            .agg(
                F.min("label").alias("label"),
                F.min(F.when(F.col("__old"), F.col("label"))).alias("__prev"),
            )
            .localCheckpoint(eager=True)
        )
        changed = new_labels.filter(F.col("label") != F.col("__prev")).count()
        labels = new_labels.select("node", "label")
        if changed == 0:
            break
    return labels.select(F.col("node"), F.col("label").alias("cluster_id"))


def _ppjoin_core(sets: DataFrame, num: int, den: int) -> DataFrame:
    """PPJoin candidate generation + verify over (``__id``, ``__set``)
    rows with threshold ``num/den`` (exact rational — every filter below
    is integer arithmetic, no FP ceil/compare anywhere).

    Filters, in order:
    1. **prefix**: only the first ``|x| - ceil(num*|x|/den) + 1`` tokens
       (rare-first order) join — any pair with J >= t must collide there;
    2. **length**: ``min(|x|,|y|)*den >= num*max(|x|,|y|)``;
    3. **positional** (Xiao et al. §3.2): at the FIRST prefix collision
       (positions pa, pb, 1-based) the overlap is bounded by
       ``1 + min(|x|-pa, |y|-pb)``; prune pairs where that bound is below
       the required overlap ``alpha = ceil(num*(|x|+|y|)/(num+den))``.
       Soundness of using min-aggregated positions: both arrays are
       sorted by the same global (df, token) order, so shared tokens
       appear in the same relative order and the first prefix collision
       minimizes pa and pb simultaneously; no shared token can precede it
       in either array (an earlier shared token within either prefix
       would itself be an earlier collision).
    """
    tok = sets.select("__id", F.explode("__set").alias("__el"))
    dfreq = tok.groupBy("__el").agg(F.count(F.lit(1)).cast("bigint").alias("__df"))
    sorted_sets = (
        tok.join(dfreq, "__el")
        .groupBy("__id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__df", "__el"))), lambda s: s["__el"]
            ).alias("__stk")
        )
        # Three consumers below (prefix explode + both verify sides) each
        # re-ran the df-join + rare-first re-sort subtree; one lazy pin
        # computes it once (q215's pattern, guide §3.3).
        .localCheckpoint(eager=False)
    )
    # plen = |x| - ceil(num*|x|/den) + 1, ceil in integer arithmetic via
    # `div` (the FP form ceil(t*|x|) can land one too high for thresholds
    # like 0.9 that are not binary-representable, silently shortening the
    # prefix and missing qualifying pairs).
    plen = F.expr(
        f"size(__stk) - ({num}L * size(__stk) + {den - 1}L) div {den}L + 1"
    ).cast("int")
    pe = sorted_sets.select(
        "__id",
        F.size("__stk").alias("__l"),
        F.posexplode(F.slice("__stk", 1, plen)).alias("__p", "__el"),
    )
    a = pe.select(
        F.col("__id").alias("id_a"), F.col("__l").alias("la"),
        (F.col("__p") + 1).alias("__pa"), "__el",
    )
    b = pe.select(
        F.col("__id").alias("id_b"), F.col("__l").alias("lb"),
        (F.col("__p") + 1).alias("__pb"), "__el",
    )
    alpha = F.expr(f"({num}L * (la + lb) + {num + den - 1}L) div {num + den}L")
    cand = (
        a.join(b, "__el")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.least("la", "lb") * F.lit(den) >= F.lit(num) * F.greatest("la", "lb"))
        .groupBy("id_a", "id_b", "la", "lb")
        .agg(F.min("__pa").alias("__pa"), F.min("__pb").alias("__pb"))
        .filter(
            F.lit(1) + F.least(F.col("la") - F.col("__pa"), F.col("lb") - F.col("__pb"))
            >= alpha
        )
        .select("id_a", "id_b", "la", "lb")
    )
    sa = sorted_sets.select(F.col("__id").alias("id_a"), F.col("__stk").alias("__sa"))
    sb = sorted_sets.select(F.col("__id").alias("id_b"), F.col("__stk").alias("__sb"))
    inter = cand.join(sa, "id_a").join(sb, "id_b").select(
        "id_a", "id_b", "la", "lb",
        F.size(F.array_intersect("__sa", "__sb")).cast("bigint").alias("__i"),
    )
    jac = F.col("__i").cast("double") / (F.col("la") + F.col("lb") - F.col("__i"))
    return inter.filter(
        F.col("__i") * F.lit(den) >= F.lit(num) * (F.col("la") + F.col("lb") - F.col("__i"))
    ).select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))


def ppjoin_pairs(
    sets: DataFrame,
    id_col: str,
    set_col: str,
    threshold: float = 0.5,
    pre_dedup_exact: bool = True,
) -> DataFrame:
    """Exact set-similarity self-join (PPJoin prefix + positional
    filtering, Xiao et al., "Efficient Similarity Joins for Near
    Duplicate Detection"): all unordered pairs with
    Jaccard(set_a, set_b) >= threshold.

    ``sets`` holds one row per entity: (id, array of DISTINCT elements);
    empty/null sets never pair (J undefined). ``threshold`` is
    rationalized (``Fraction(t).limit_denominator(10**6)``) so every
    prefix/length/positional/verify bound is exact integer arithmetic.

    ``pre_dedup_exact`` (default on): rows with IDENTICAL element sets
    are collapsed to one representative before candidate generation —
    intra-group pairs are emitted directly at jaccard 1.0 and
    representative pairs are expanded back over group members. On
    boilerplate-heavy / replicated corpora this shrinks the quadratic
    candidate stage by the duplication factor squared while leaving the
    output byte-identical (exact duplicates ARE J=1.0 pairs). This is
    the q31-style exact pre-pass the q123 curation pipeline composes,
    promoted to the operator default.

    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard rounded 6.
    """
    from fractions import Fraction

    from pyspark.sql import Window

    fr = Fraction(threshold).limit_denominator(1_000_000)
    num, den = fr.numerator, fr.denominator
    norm = sets.filter(F.size(set_col) > 0).select(
        F.col(id_col).alias("__id"), F.array_sort(set_col).alias("__key")
    )
    if not pre_dedup_exact:
        return _ppjoin_core(norm.select("__id", F.col("__key").alias("__set")), num, den)

    members = norm.select(
        "__id", "__key",
        F.min("__id").over(Window.partitionBy("__key")).alias("__rep"),
        # FIVE consumers (intra pair sides, reps, and both rep->member
        # expansion sides) each re-evaluated the array-keyed exchange +
        # window; pin it once, lazily.
    ).localCheckpoint(eager=False)
    m_a = members.select(F.col("__id").alias("id_a"), F.col("__rep").alias("__r"))
    m_b = members.select(F.col("__id").alias("id_b"), F.col("__rep").alias("__r"))
    intra = (
        m_a.join(m_b, "__r")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.lit(1.0).alias("jaccard"))
    )
    reps = members.filter(F.col("__id") == F.col("__rep")).select(
        "__id", F.col("__key").alias("__set")
    )
    core = _ppjoin_core(reps, num, den)
    ra = members.select(F.col("__rep").alias("id_a"), F.col("__id").alias("__ia"))
    rb = members.select(F.col("__rep").alias("id_b"), F.col("__id").alias("__ib"))
    cross = core.join(ra, "id_a").join(rb, "id_b").select(
        F.least("__ia", "__ib").alias("id_a"),
        F.greatest("__ia", "__ib").alias("id_b"),
        "jaccard",
    )
    return intra.unionByName(cross)
