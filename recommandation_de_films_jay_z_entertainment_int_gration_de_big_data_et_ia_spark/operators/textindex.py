"""Text index structures — the engine's replacement for the reference's
Elasticsearch index (SURVEY §1.5: ES ``movies`` index → plain DataFrames +
operators; S7 index DDL → a persistable stats table).

``build_docfreq_index`` materializes the corpus statistics BM25 needs
(term → document frequency, plus corpus totals); at scale you write it
as parquet once per corpus snapshot and broadcast-join it per query batch
instead of re-aggregating the corpus (what ``search.bm25_score`` does
inline). ``bm25_with_index`` consumes it and must produce bit-identical
scores to the inline path (guarded by tests).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.text import tokens
from .search import _bm25_parts, field_tokens


def build_docfreq_index(df: DataFrame, text_col: str) -> tuple[DataFrame, DataFrame]:
    """Returns (docfreq, totals):

    - ``docfreq(term, df)`` — one row per distinct term (explode distinct
      tokens → count), shuffle on term;
    - ``totals(n_docs, sum_dl)`` — 1-row corpus totals.

    Both are small, persistable, and broadcastable.
    """
    toked = df.select(tokens(text_col).alias("__tk"))
    docfreq = (
        toked.select(F.explode(F.array_distinct("__tk")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    totals = toked.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum(F.size("__tk")).alias("sum_dl")
    )
    return docfreq, totals


def build_multimatch_index(
    df: DataFrame, id_col: str, fields: dict[str, float]
) -> tuple[DataFrame, DataFrame]:
    """Per-field index for ``search.multi_match_bm25_indexed``: returns

    - ``vocab(field, term, df)`` — per field NAME, every distinct term
      with its document frequency (the fuzzy-expansion vocabulary);
    - ``stats(field, n, sumdl)`` — per-field doc count and total token
      length.

    Both frames are keyed by the field's NAME, not its position in the
    ``fields`` dict — a persisted index must stay correct when a later
    query passes its fields in a different order (an ordinal key would
    silently score every term against the wrong field's statistics).

    One corpus scan (``search.field_tokens`` single-projection explode);
    the vocabulary aggregate shuffles on (field, term) once. Both
    outputs are small, persistable as parquet once per corpus snapshot,
    and broadcast at query time — the engine's S7 "index DDL" for
    multi-field search (reference ``src/elasticsearch_ingest.py:92-105``).
    """
    name_of = _ordinal_to_name(fields)
    toked = field_tokens(df, id_col, fields).withColumn("field", name_of)
    vocab = (
        toked.select("field", F.explode(F.array_distinct("__tk")).alias("term"))
        .groupBy("field", "term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    stats = toked.groupBy("field").agg(
        F.count(F.lit(1)).alias("n"), F.sum("__dl").alias("sumdl")
    )
    return vocab, stats


def _ordinal_to_name(fields: dict[str, float]) -> F.Column:
    """Map ``field_tokens``'s ordinal column ``f`` to the field name."""
    names = list(fields)
    out = F.lit(names[0])
    for fi in range(1, len(names)):
        out = F.when(F.col("f") == fi, F.lit(names[fi])).otherwise(out)
    return out


def bm25_with_index(
    docs: DataFrame,
    docfreq: DataFrame,
    totals: DataFrame,
    text_col: str,
    query_terms: Sequence[str],
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 scoring against a prebuilt index — same formula (and bitwise
    the same scores) as ``search.bm25_score``, but corpus statistics come
    from the index tables instead of an inline aggregate: the corpus is
    scanned ONCE per query batch, not twice.

    The per-term document frequencies arrive as a broadcast 1-row
    term→df map (filtered to the query terms), not a driver
    ``.collect()`` — the plan stays fully declarative and a query batch
    costs no driver round-trip."""
    dfmap = (
        docfreq.filter(F.col("term").isin(*query_terms))
        .agg(F.map_from_entries(F.collect_list(F.struct("term", "df"))).alias("__dfmap"))
    )
    toked = docs.withColumn("__tk", tokens(text_col)).withColumn("__dl", F.size("__tk"))
    scored = toked.crossJoin(F.broadcast(totals)).crossJoin(F.broadcast(dfmap))
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs").cast("double")

    def _eq(t: str):
        return lambda x: x == F.lit(t)

    total = F.lit(0.0)
    for t in query_terms:
        tf = F.size(F.filter(F.col("__tk"), _eq(t))).cast("double")
        dfreq = F.coalesce(F.col("__dfmap").getItem(t).cast("double"), F.lit(0.0))
        idf, num, denom = _bm25_parts(tf, dfreq, F.col("n_docs").cast("double"), avgdl, k1, b)
        total = total + idf * (num / denom)
    return (
        scored.withColumn("score", F.round(total, 4))
        .drop("__tk", "__dl", "n_docs", "sum_dl", "__dfmap")
    )


def build_token_postings(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Inverted index ``postings(term, doc_id)``: one row per (doc,
    DISTINCT token). The persistable structure behind the batched
    more-like-this (reference ``api.py:124-135``'s per-request
    genre-overlap scan, re-expressed as an index probe).

    One corpus scan; the explode is map-side (no shuffle). At scale,
    write it as parquet partitioned/bucketed by ``term`` once per corpus
    snapshot — every query batch after that touches ONLY this table,
    never the corpus.
    """
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(tokens(text_col))).alias("term"),
    )


def more_like_this_batch(
    postings: DataFrame,
    target_ids: Sequence,
    k: int = 5,
) -> DataFrame:
    """Batched more-like-this over the prebuilt postings index: for every
    target doc in the batch, the top-k other docs by distinct-token
    overlap — same scores as ``search.more_like_this`` (guarded
    bit-identical for a singleton batch in tests/test_search.py), but
    answering a WHOLE batch with one token equi-join instead of one
    corpus scan per request.

    Plan: target postings (tiny — |batch| docs' tokens, filtered off the
    index, NOT the corpus) broadcast into the postings join; since
    postings hold distinct tokens per doc, COUNT(*) per (qid, doc) IS
    ``|tokens(target) ∩ tokens(doc)|``. One shuffle for the pair count,
    one per-qid window for the top-k. The corpus is never scanned at
    query time (plan-guarded: tests/test_plans.py).
    """
    from pyspark.sql import Window

    targets = postings.filter(F.col("doc_id").isin(list(target_ids))).select(
        F.col("doc_id").alias("qid"), "term"
    )
    ov = (
        postings.join(F.broadcast(targets), "term")
        .filter(F.col("doc_id") != F.col("qid"))
        .groupBy("qid", "doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("overlap"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("overlap"), F.asc("doc_id"))
    return (
        ov.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .orderBy("qid", "rank")
    )


def build_positional_postings(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Positional inverted index ``postings(term, doc_id, pos)`` — one row
    per token OCCURRENCE (1-based ordinal), the structure behind indexed
    phrase queries. One corpus scan, map-side explode; persist bucketed
    by ``term`` once per corpus snapshot and every phrase query after
    that probes only this table."""
    return df.select(
        F.col(id_col).alias("doc_id"), F.posexplode(tokens(text_col)).alias("pos0", "term")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "term")


def phrase_search_batch(postings: DataFrame, phrases: Sequence[str]) -> DataFrame:
    """Answer a BATCH of phrase queries against positional postings.

    Classic positional intersection: a phrase [t0..tn-1] matches doc d at
    anchor a iff term ti occurs at position a+i for every i — expressed as
    one broadcast join of the (phrase, i, term) probe frame against the
    postings, grouping on (phrase, doc, anchor = pos - i) and requiring
    all n DISTINCT term slots present. No corpus scan, no per-phrase
    work: the whole batch is a single postings probe.

    Reference: the ES ``match_phrase`` surface (SURVEY §2.8 Q1 /
    reference ``api.py`` search routes) — here answered from a
    persistable index instead of a per-request corpus scan.
    """
    spark = postings.sparkSession
    rows = [
        (ph, i, t) for ph in phrases for i, t in enumerate(ph.split())
    ]
    pt = spark.createDataFrame(rows, "phrase string, i int, term string")
    pn = pt.groupBy("phrase").agg(F.count(F.lit(1)).alias("n"))
    j = postings.join(F.broadcast(pt), "term").select(
        "phrase", "doc_id", (F.col("pos") - F.col("i")).alias("anchor"), "i"
    )
    hits = (
        j.groupBy("phrase", "doc_id", "anchor")
        .agg(F.countDistinct("i").alias("nt"))
        .join(F.broadcast(pn), "phrase")
        .filter(F.col("nt") == F.col("n"))
        .select("phrase", "doc_id")
        .distinct()
    )
    return hits.orderBy("phrase", "doc_id")


def _slop_grouped(postings: DataFrame, phrases: Sequence[str]) -> DataFrame:
    """Shared slop-search front half: postings ⋈ broadcast
    (phrase, i, term) probe → one row per (phrase, doc) carrying the
    phrase's own term occurrences. Shuffle volume is bounded by the
    batch's term occurrence counts, never the corpus."""
    spark = postings.sparkSession
    rows = [
        (ph, i, t, len(ph.split()))
        for ph in phrases
        for i, t in enumerate(ph.split())
    ]
    pt = spark.createDataFrame(rows, "phrase string, i int, term string, n int")
    j = postings.join(F.broadcast(pt), "term").select(
        "phrase", "doc_id", "i", "pos", "n"
    )
    return j.groupBy("phrase", "doc_id").agg(
        F.collect_list(F.struct("i", "pos")).alias("__occ"),
        F.first("n").alias("__n"),
    )


def _slop_ordered_hits(grouped: DataFrame, slop: int) -> DataFrame:
    """Ordered-within-window certificates: positions p0 < ... < pn-1
    (term ti at pi) with total extra gap p(n-1) - p0 - (n-1) <= slop.
    Greedy per-anchor check: for each anchor position of t0, repeatedly
    take the smallest next-term position above the previous one — greedy
    minimizes the end position for a given anchor, so a within-window
    ordered certificate exists iff the greedy one qualifies."""
    per_slot = F.expr(
        "transform(sequence(0, __n - 1),"
        " ii -> array_sort(transform(filter(__occ, o -> o.i = ii), o -> o.pos)))"
    )
    matched = F.expr(
        "exists(__ps[0], a -> coalesce("
        " aggregate(slice(__ps, 2, size(__ps) - 1), a,"
        "           (acc, posl) -> if(acc is null, cast(null as int),"
        "                             array_min(filter(posl, p -> p > acc))))"
        f" - a <= size(__ps) - 1 + {int(slop)}, false))"
    )
    return (
        grouped.select("phrase", "doc_id", per_slot.alias("__ps"))
        .filter(matched)
        .select("phrase", "doc_id")
    )


def _slop_transposed_hits(grouped: DataFrame, slop: int) -> DataFrame:
    """Transposition-admitting certificates for DISTINCT-term phrases:
    assign each slot i a position p_i of term ti and charge the spread
    of the offset-adjusted positions, ``max_i(p_i - i) - min_i(p_i - i)
    <= slop`` — the idealized Lucene SloppyPhraseMatcher cost. For a
    monotone assignment pp_i = p_i - i is non-decreasing, so the spread
    IS the ordered gap formula; a swapped adjacent pair costs 2 (the
    documented ES rule). Distinct terms make position-injectivity
    automatic (one term per position).

    Check: minimize the spread with the classic smallest-range sweep —
    for every candidate lower bound L (any pp value), the tightest
    window at L has upper bound max over slots of the smallest pp >= L;
    some assignment fits slop iff some L yields spread <= slop. All
    in-partition JVM higher-order functions, O(|pp| * n * occ) per
    (phrase, doc) on the phrase's own occurrences only."""
    per_slot_pp = F.expr(
        "transform(sequence(0, __n - 1),"
        " ii -> array_sort(transform(filter(__occ, o -> o.i = ii), o -> o.pos - o.i)))"
    )
    matched = F.expr(
        "exists(array_distinct(flatten(__pps)), L ->"
        " forall(__pps, lst -> size(filter(lst, p -> p >= L)) > 0)"
        " AND array_max(transform(__pps, lst -> array_min(filter(lst, p -> p >= L))))"
        f" - L <= {int(slop)})"
    )
    return (
        grouped.select("phrase", "doc_id", per_slot_pp.alias("__pps"))
        .filter(matched)
        .select("phrase", "doc_id")
    )


def phrase_search_slop_batch(
    postings: DataFrame,
    phrases: Sequence[str],
    slop: int = 0,
    transpositions: bool = True,
) -> DataFrame:
    """ES ``match_phrase`` with ``slop``, admitting out-of-order matches
    at ES's documented cost (a transposed adjacent pair charges 2 slop):
    a phrase matches when some injective slot→position assignment has
    offset-adjusted spread <= slop (see :func:`_slop_transposed_hits`;
    ordered certificates reduce to the familiar total-gap formula, so
    ``slop=0`` is exactly the contiguous q22/q238 match —
    property-pinned in tests). ``transpositions=False`` restores the
    ordered-only subset.

    Phrases with REPEATED terms route to the ordered-only path even when
    ``transpositions=True`` — a documented subset: the smallest-range
    sweep would need per-slot occurrence disambiguation to keep
    injectivity (Lucene's repeated-term sloppy matching is itself
    approximate here). The batch splits driver-side (it is a Python
    list) and the two certificate checks union — still one postings
    probe per group, no corpus scan. Reference ``api.py:91-93`` only
    ever uses slop=0; this generalizes beyond the reference surface.
    """
    phrases = list(phrases)
    if not phrases:
        # An empty batch is a valid request: return an empty (phrase,
        # doc_id) frame with doc_id typed from the postings schema
        # (round-6 ADVICE — parts[0] would raise IndexError).
        return postings.sparkSession.createDataFrame(
            [],
            T.StructType(
                [
                    T.StructField("phrase", T.StringType()),
                    T.StructField("doc_id", postings.schema["doc_id"].dataType),
                ]
            ),
        )
    if transpositions:
        trans = [ph for ph in phrases if len(set(ph.split())) == len(ph.split())]
        ordered = [ph for ph in phrases if ph not in trans]
    else:
        trans, ordered = [], phrases
    parts = []
    if trans:
        parts.append(_slop_transposed_hits(_slop_grouped(postings, trans), slop))
    if ordered:
        parts.append(_slop_ordered_hits(_slop_grouped(postings, ordered), slop))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.orderBy("phrase", "doc_id")


def cross_doc_span_excise(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    min_docs: int = 3,
    materialize: bool = False,
    keep_first: bool = False,
    max_excised_per_gram: int | None = None,
) -> DataFrame:
    """CROSS-document duplicated-span removal (RefinedWeb/Gopher-style
    boilerplate excision, the cross-doc complement of the intra-doc q253
    pass): any ``n``-token span occurring in ``>= min_docs`` DISTINCT
    documents is boilerplate (mirrored headers/footers/templates) and is
    excised from EVERY document — boilerplate has no canonical owner, so
    by default no occurrence is kept. ``keep_first=True`` switches to the
    Lee et al. 2022 EXACT-SUBSTRING-DEDUP semantic instead: one canonical
    occurrence of each duplicated span survives — the one at the
    globally smallest ``(doc, position)``, a deterministic stand-in for
    "keep one copy" — and only the other occurrences are excised.
    Overlapping spans merge by INTERVAL UNION either way: each excised
    occurrence covers ``[i, i+n-1]``; sorted start positions fold into
    disjoint merged intervals and a token survives iff outside every
    interval.

    ``max_excised_per_gram`` is the adversarial-corpus work cap (the
    LSH-bucket-cap analog, part of the operator SPEC, not an
    approximation knob hidden from the result): per duplicated gram,
    only its ``k`` lexicographically-earliest ``(doc, position)``
    occurrences (after the ``keep_first`` drop, if any) are excised —
    later occurrences survive. On a natural corpus where no gram
    repeats ``k`` times the result is identical to the uncapped run;
    on a fully templated corpus (every doc a copy — the replicated-sf1
    stress) it bounds the per-gram fan-out into the coverage stage the
    same way LSH bucket caps bound candidate pairs. The cap is
    deterministic (total order on ``(doc, position)``) so an oracle can
    reproduce it with ``ROW_NUMBER() OVER (PARTITION BY gram ORDER BY
    doc, pos) <= k``. Enforcement is skew-shaped, not global: the
    boilerplate aggregate already knows each gram's occurrence count,
    so occurrences of within-cap grams pass through untouched and only
    the rows of OVER-cap grams (on any real corpus a tiny hot set —
    the AQE-skew-split analog) pay the per-gram rank.

    Returns one row per input document:
    ``(id_col, n_tokens, n_removed, clean_tokens)`` with ``clean_tokens``
    the surviving tokens in original order.

    Shape (100 TB): the n-gram explode is scan-local; grams are keyed
    internally by ``xxhash64`` (an 8-byte shuffle/broadcast key instead
    of an ~n-word string; the key never reaches the result). A collision
    merges the two grams' aggregate rows, which can matter three ways:
    pooled distinct-doc counts crossing the ``min_docs`` threshold,
    a single shared ``keep_first`` keeper chosen across both grams
    instead of one per gram, and a shared ``max_excised_per_gram`` cap
    pool — each silently changes which occurrences are excised even
    when no threshold is crossed. Probability < m²/2⁶⁵ for m distinct
    grams, and `tests/` asserts collision-freeness on the test corpora.
    The boilerplate set needs ONE shuffle on the gram key
    (distinct-doc count); by construction it is small relative to the
    corpus (only cross-doc-repeated n-grams survive ``>= min_docs``) so
    it broadcast-joins back onto the occurrence frame — the corpus
    itself is never shuffled until the per-doc start-set groupBy, the
    one unavoidable exchange, keyed by doc so skew-free. Shuffle volume
    is one row per MATCHED OCCURRENCE (not ×n per-position rows, and no
    extra distinct exchange): on a boilerplate-saturated corpus (every
    doc fully templated — the sf1 replicated-corpus stress) the
    interval fold keeps per-doc work O(len + occurrences), where the
    naive per-position covered-set reconstruction is O(len²).
    The positional n-gram frame feeds BOTH the boilerplate aggregate
    and the coverage join — Catalyst evaluates the explode twice (the
    branches prune differently, so the exchanges are not reuse-equal);
    ``materialize=True`` localCheckpoints it once (the q237 pattern —
    same lifetime note as ``dedup.with_shingles``: drop the reference
    or unpersist after the consuming query runs).
    Reference scope: beyond the reference's surface
    (`/root/reference/src/preprocessing.py` stops at column ETL); this is
    the standard pre-training cleanup pass (Penedo et al., RefinedWeb
    §3.2; Lee et al. 2022).
    """
    t = df.select(F.col(id_col).alias("__id"), tokens(text_col).alias("tk"))
    # positional n-grams: (doc, start i, gram hash); docs shorter than n
    # emit nothing (sequence(1, 0) DESCENDS in Spark — guard explicitly).
    g = t.select(
        "__id",
        F.explode(
            F.expr(
                f"if(size(tk) >= {n},"
                f" transform(sequence(1, size(tk) - {n - 1}),"
                f"   i -> struct(i AS i,"
                f"        xxhash64(concat_ws(' ', slice(tk, i, {n}))) AS gh)),"
                " array())"
            )
        ).alias("e"),
    ).select("__id", F.col("e.i").alias("i"), F.col("e.gh").alias("gh"))
    if materialize:
        # r12: LAZY (was eager). The eager form ran the n-gram explode
        # as a separate blocking job before the query proper; lazily the
        # boiler broadcast build — g's first, strictly-sequential
        # consumer — materializes it in-flight and every later consumer
        # (hits probe, cap branches) reads it back. Interleaved A/B:
        # q263 3.12 -> 3.00 min, q269 3.30 -> 3.06.
        g = g.localCheckpoint(eager=False)
    boiler = (
        g.groupBy("gh")
        .agg(
            F.countDistinct("__id").alias("nd"),
            F.count(F.lit(1)).alias("__cnt"),
            # the canonical surviving occurrence under keep_first: the
            # globally smallest (doc, position) — struct min is
            # lexicographic, so deterministic under any shuffle order
            F.min(F.struct("__id", "i")).alias("__keep"),
        )
        .filter(F.col("nd") >= int(min_docs))
        .select("gh", "__cnt", "__keep")
    )
    if max_excised_per_gram is not None:
        # the cap's skew split probes the boilerplate set twice (easy +
        # hot branches) — materialize it once regardless of the
        # `materialize` flag; it is small by construction (only
        # cross-doc-repeated grams survive). NOTE: both branches also
        # re-evaluate `hits` (the g⋈boiler join), so the cap is best
        # paired with materialize=True to avoid re-running the n-gram
        # explode on the probe side as well.
        boiler = boiler.localCheckpoint(eager=True)
    hits = g.join(F.broadcast(boiler), "gh")
    if keep_first:
        hits = hits.filter(
            ~(
                (F.col("__id") == F.col("__keep.__id"))
                & (F.col("i") == F.col("__keep.i"))
            )
        )
    if max_excised_per_gram is not None:
        cap = int(max_excised_per_gram)
        # excisable occurrences per gram after the keep-first drop
        eff = F.col("__cnt") - (F.lit(1) if keep_first else F.lit(0))
        # skew split: within-cap grams (the overwhelming majority on any
        # real corpus) bypass the rank entirely; only over-cap grams'
        # rows pay a per-gram window, and that hot slice is tiny
        easy = hits.filter(eff <= cap).select("__id", "i")
        hot = (
            hits.filter(eff > cap)
            .withColumn(
                "__rn",
                F.row_number().over(
                    Window.partitionBy("gh").orderBy("__id", "i")
                ),
            )
            .filter(F.col("__rn") <= cap)
            .select("__id", "i")
        )
        hits = easy.unionAll(hot)
    else:
        hits = hits.select("__id", "i")
    c = hits.groupBy("__id").agg(F.sort_array(F.collect_set("i")).alias("__ss"))
    # sorted starts -> disjoint merged intervals [lo, hi]: starts ascend,
    # so each new span's hi = s + n - 1 always >= the running hi, and a
    # span merges into the last interval iff s <= hi + 1 (adjacency
    # closes the gap — positions are integers).
    ivs = F.expr(
        "aggregate(coalesce(__ss, array()),"
        " cast(array() as array<struct<lo:int,hi:int>>),"
        " (acc, s) -> if(size(acc) > 0 AND s <= element_at(acc, -1).hi + 1,"
        f"   concat(slice(acc, 1, size(acc) - 1),"
        f"          array(struct(element_at(acc, -1).lo AS lo, s + {n - 1} AS hi))),"
        f"   concat(acc, array(struct(s AS lo, s + {n - 1} AS hi)))))"
    )
    # fold the gaps BETWEEN intervals into the surviving token sequence:
    # O(len) slices, no per-position membership scans.
    cleaned = F.expr(
        "concat("
        " aggregate(__ivs,"
        "   struct(cast(array() as array<string>) AS t, 0 AS prev),"
        "   (acc, iv) -> struct("
        "     concat(acc.t, slice(tk, acc.prev + 1, iv.lo - 1 - acc.prev)) AS t,"
        "     iv.hi AS prev),"
        "   acc -> acc.t),"
        " if(size(__ivs) = 0, tk,"
        "    slice(tk, element_at(__ivs, -1).hi + 1,"
        "          size(tk) - element_at(__ivs, -1).hi)))"
    )
    n_removed = F.expr(
        "aggregate(__ivs, 0L, (a, iv) -> a + iv.hi - iv.lo + 1)"
    )
    return (
        t.join(c, "__id", "left")
        .withColumn("__ivs", ivs)
        .select(
            F.col("__id").alias(id_col),
            F.size("tk").cast("bigint").alias("n_tokens"),
            n_removed.cast("bigint").alias("n_removed"),
            cleaned.alias("clean_tokens"),
        )
    )
