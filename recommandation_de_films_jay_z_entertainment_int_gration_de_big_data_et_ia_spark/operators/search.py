"""Search operators: the reference's Elasticsearch query DSL re-expressed
as Spark-native relational operators (SURVEY.md §2.8, Q1–Q11).

The reference runs these semantics inside Elasticsearch/Lucene
(``src/api.py:91-221``); here each one is a Column predicate / scoring
expression over plain DataFrames, built only from Catalyst-optimizable
built-ins (no UDFs), so the same logical IR serves batch and interactive
paths (§3.3 conclusion).

Scoring spec (ours, deterministic — ES parity is directional per §7.3):
- tokenization: lowercase, non-alphanumerics → space, split on spaces
- fuzziness AUTO: edit distance 0 for term length ≤2, 1 for 3–5, 2 for ≥6
  (the published ES AUTO rule)
- BM25: k1=1.2, b=0.75, idf = ln(1 + (N - df + 0.5)/(df + 0.5))
  (public Robertson/Sparck-Jones formulation used by Lucene)
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import normalize_text, tokens
from .movieindex import auto_fuzziness, normalize_phrase


def with_tokens(df: DataFrame, text_col: str, out: str = "toks") -> DataFrame:
    """Materialize the token array once per row for downstream predicates."""
    return df.withColumn(out, tokens(text_col))


# ---------------------------------------------------------------------------
# Predicates (Q1–Q5, Q10)
# ---------------------------------------------------------------------------

def term(col: str | Column, value) -> Column:
    """Q2 ``term``: exact key/keyword equality."""
    c = F.col(col) if isinstance(col, str) else col
    return c == F.lit(value)


def terms_overlap(tok_col: Column, values: Sequence[str]) -> Column:
    """Q3 ``terms``: any-overlap between a token/keyword array and the query
    list (the genre-overlap recommender predicate, api.py:141)."""
    return F.arrays_overlap(tok_col, F.array(*[F.lit(v) for v in values]))


def phrase_match(text_col: str | Column, phrase: str) -> Column:
    """Q1 ``match_phrase``: ordered contiguous token containment, realized as
    token-boundary substring match on the normalized text. Analysis
    (lowercase+strip punctuation) is applied to both sides, like Lucene's
    analyzer does."""
    hay = F.concat(F.lit(" "), normalize_text(text_col), F.lit(" "))
    return hay.contains(f" {normalize_phrase(phrase)} ")


def keyword_match_count(tok_col: Column, words: Sequence[str], min_len: int = 4) -> Column:
    """Q5 fallback title-similarity: how many query words (len ≥ ``min_len``,
    api.py:124-135 uses >3) appear in the token set. Doubles as the ranking
    score for the keyword `should` path."""
    kept = [w for w in words if len(w) >= min_len]
    if not kept:
        return F.lit(0)
    total = None
    for w in kept:
        hit = F.array_contains(tok_col, w).cast("int")
        total = hit if total is None else total + hit
    return total


def fuzzy_match(tok_col: Column, query_term: str, max_dist: int | None = None) -> Column:
    """Q6 fuzzy term match: any token within ``max_dist`` edits (AUTO bands
    when unset). ``levenshtein`` is a JVM built-in — no UDF."""
    d = auto_fuzziness(query_term) if max_dist is None else max_dist
    return F.exists(tok_col, lambda t: F.levenshtein(t, F.lit(query_term)) <= d)


def bool_query(
    must: Sequence[Column] = (),
    must_not: Sequence[Column] = (),
    should: Sequence[Column] = (),
    minimum_should_match: int = 1,
) -> Column:
    """Q4 ``bool``: conjunction + negation + at-least-N-of disjunction
    (api.py:127-145). General N via sum of boolean casts."""
    pred = F.lit(True)
    for m in must:
        pred = pred & m
    for mn in must_not:
        pred = pred & ~mn
    if should:
        n_matched = None
        for s in should:
            c = s.cast("int")
            n_matched = c if n_matched is None else n_matched + c
        pred = pred & (n_matched >= minimum_should_match)
    return pred


# ---------------------------------------------------------------------------
# BM25 relevance scoring (Q6/Q7) — fully relational: corpus statistics are
# a 1-row aggregate broadcast-cross-joined onto the docs; everything stays
# in whole-stage codegen. At 100 TB the stats frame is still one row.
# ---------------------------------------------------------------------------

def _bm25_parts(
    tf: Column, dfreq: Column, n: Column, avgdl: Column, k1: float, b: float
) -> tuple[Column, Column, Column]:
    """One BM25 term's ``(idf, tf·(k1+1), denom)`` over double columns,
    with the document length in ``__dl``. Callers combine the three
    themselves: the sites associate the product differently, and a
    different association is a different double."""
    idf = F.log((n - dfreq + F.lit(0.5)) / (dfreq + F.lit(0.5)) + F.lit(1.0))
    denom = tf + F.lit(k1) * ((F.lit(1.0) - F.lit(b)) + F.lit(b) * (F.col("__dl").cast("double") / avgdl))
    return idf, tf * F.lit(k1 + 1.0), denom


def bm25_score(
    df: DataFrame,
    text_col: str,
    query_terms: Sequence[str],
    k1: float = 1.2,
    b: float = 0.75,
    boost: float = 1.0,
) -> DataFrame:
    """Append a BM25 ``score`` column for ``query_terms`` over ``text_col``.

    df stats (N, df_t per term, total token length) are computed in ONE
    aggregate pass and broadcast — no per-term scans, no shuffle of the
    doc side beyond the single agg.
    """
    toks = "__bm25_toks"
    docs = df.withColumn(toks, tokens(text_col)).withColumn("__dl", F.size(toks))
    stats = docs.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("__dl").alias("__sumdl"),
        *[
            F.sum(F.array_contains(toks, t).cast("bigint")).alias(f"__df_{i}")
            for i, t in enumerate(query_terms)
        ],
    )
    scored = docs.crossJoin(F.broadcast(stats))
    avgdl = F.col("__sumdl").cast("double") / F.col("__n").cast("double")

    def _eq(term_str: str):
        # NB: a factory, not a default-arg lambda — pyspark dispatches on
        # lambda arity, so `lambda x, t=t:` would become the (elem, index)
        # two-arg form and bind t to the array index.
        return lambda x: x == F.lit(term_str)

    total = F.lit(0.0)
    for i, t in enumerate(query_terms):
        tf = F.size(F.filter(toks, _eq(t))).cast("double")
        idf, num, denom = _bm25_parts(
            tf, F.col(f"__df_{i}").cast("double"), F.col("__n").cast("double"), avgdl, k1, b
        )
        total = total + idf * (num / denom)
    scored = scored.withColumn("score", F.round(total * F.lit(boost), 4))
    drop = [toks, "__dl", "__n", "__sumdl"] + [f"__df_{i}" for i in range(len(query_terms))]
    return scored.drop(*drop)


def multi_match_score(
    df: DataFrame,
    fields: dict[str, float],
    query_terms: Sequence[str],
    fuzzy: bool = True,
) -> DataFrame:
    """Q6 ``multi_match`` with per-field boosts (api.py:210-221 uses
    ``title^3, genres``): per field, each query term contributes its boost
    if it (fuzzily, AUTO bands) matches a token of that field; total score
    is the sum. Presence-based scoring — deterministic and SQL-mirrorable;
    BM25 ranking is available separately via :func:`bm25_score`.

    The sum is one ``aggregate`` over an array of ``(term, fuzziness)``
    structs, so the expression does not grow with the query: a sum
    unrolled per term and field nests two levels per pair and overflows
    the JVM stack at a few hundred terms. Each field is tokenized once
    per row, into the fold's zero value; a token column read inside the
    lambda would be inlined by Catalyst and re-split for every term."""
    q = F.array(*[
        F.struct(F.lit(t).alias("t"), F.lit(auto_fuzziness(t) if fuzzy else 0).alias("d"))
        for t in query_terms
    ]).cast("array<struct<t:string,d:int>>")
    toks = [f"toks_{i}" for i in range(len(fields))]
    zero = F.struct(*[tokens(fld).alias(c) for fld, c in zip(fields, toks)], F.lit(0.0).alias("s"))

    def add_term(acc: Column, e: Column) -> Column:
        s = acc["s"]
        for c, boost in zip(toks, fields.values()):
            hit = F.exists(acc[c], lambda x: F.levenshtein(x, e["t"]) <= e["d"])
            s = s + hit.cast("int").cast("double") * F.lit(boost)
        return acc.withField("s", s)

    total = F.aggregate(q, zero, add_term, lambda acc: acc["s"])
    return df.withColumn("score", F.round(total, 4))


def fuzzy_expand_terms(
    vocab: DataFrame,
    query_terms: Sequence[str],
    fuzzy: bool = True,
    prefix_length: int = 0,
    max_expansions: int | None = 50,
) -> DataFrame:
    """Lucene-style fuzzy term expansion against a ``(f, term, df)``
    vocabulary, with ES's enumeration bounds (the public ``fuzzy`` query
    defaults: ``prefix_length=0``, ``max_expansions=50`` —
    reference ``api.py:210-221`` relies on these implicitly via AUTO).

    - ``prefix_length > 0``: expanded terms must share the first
      ``prefix_length`` characters with the query term (those chars are
      never edited, exactly ES's knob). Candidates then come from an
      EQUI-JOIN on the shared prefix — the vocab is bucketed by
      ``substring(term, 1, p)`` and only matching buckets meet each
      query term, the relational analog of Lucene's automaton pruning.
      At 100×-scale vocabulary this replaces the term×vocab fan-out
      with |bucket| work per term (plan-guarded in tests). Lucene clamps
      the prefix to the term's own length — a query term SHORTER than
      ``prefix_length`` still matches longer vocab terms sharing its
      full text as a prefix — so the effective prefix per query term is
      ``min(prefix_length, len(q))`` and terms are bucketed by that
      clamped length (one vocab-side bucketing per distinct length; the
      query list is tiny, so this stays a handful of broadcast joins).
    - ``prefix_length == 0``: every vocab term is a candidate (what ES
      does too); the fan-out is an in-partition Generate, no shuffle.
    - ``max_expansions``: per (field, query term), keep only the N
      closest candidates, ranked (edit distance ASC, term ASC) — a
      deterministic stand-in for Lucene's boost-ranked cut. ``None``
      disables the bound.

    Returns one row per (field, query-term hit): ``(f, term, df)`` with
    a vocab term within range of two query terms contributing two rows
    (independent per-query-term expansion, as Lucene does).
    """
    from pyspark.sql import Window

    qrows = [(q, auto_fuzziness(q) if fuzzy else 0) for q in query_terms]
    if prefix_length > 0:
        # Lucene clamps the frozen prefix to the query term's length:
        # group query terms by clamped length so each group equi-joins
        # on a same-length vocab prefix (a short query term 'ab' with
        # prefix_length=3 still meets vocab terms starting 'ab').
        by_plen: dict[int, list[tuple[str, int]]] = {}
        for q, d in qrows:
            by_plen.setdefault(min(prefix_length, len(q)), []).append((q, d))
        parts = []
        for plen, rows in sorted(by_plen.items()):
            qf = vocab.sparkSession.createDataFrame(
                rows, "q string, d int"
            ).withColumn("__pfx", F.substring("q", 1, plen))
            parts.append(
                vocab.withColumn("__pfx", F.substring("term", 1, plen))
                .join(F.broadcast(qf), "__pfx")
                .drop("__pfx")
            )
        cand = parts[0]
        for p in parts[1:]:
            cand = cand.unionAll(p)
    else:
        qarr = F.array(
            *[F.struct(F.lit(q).alias("q"), F.lit(d).alias("d")) for q, d in qrows]
        )
        cand = vocab.select("f", "term", "df", F.explode(qarr).alias("qd")).select(
            "f", "term", "df", F.col("qd.q").alias("q"), F.col("qd.d").alias("d")
        )
    hits = cand.filter(F.levenshtein(F.col("term"), F.col("q")) <= F.col("d"))
    if max_expansions is not None:
        w = Window.partitionBy("f", "q").orderBy(
            F.levenshtein(F.col("term"), F.col("q")).asc(), F.col("term").asc()
        )
        hits = (
            hits.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= int(max_expansions))
            .drop("__rn")
        )
    return hits.select("f", "term", "df")


def _multi_field_bm25_fold(
    matched: DataFrame, fields: dict[str, float], id_col: str, k1: float, b: float
) -> DataFrame:
    """The shared tail of the ``multi_match_bm25*`` paths: ``matched``
    carries ``(__id, f, term, tf, __dl, df, n, sumdl)`` per matched
    (doc, field ordinal, expanded term); each row's contribution is
    weighted by its field's boost, and per-doc totals left-fold in
    sorted (f, term, contrib) order so scores are reproducible
    bit-for-bit."""
    boosts = list(fields.values())
    boost = F.lit(float(boosts[0]))
    for fi in range(1, len(boosts)):
        boost = F.when(F.col("f") == fi, F.lit(float(boosts[fi]))).otherwise(boost)
    n = F.col("n").cast("double")
    idf, num, denom = _bm25_parts(
        F.col("tf").cast("double"), F.col("df").cast("double"), n,
        F.col("sumdl").cast("double") / n, k1, b,
    )
    contrib = (boost * idf * num / denom).alias("contrib")
    return (
        matched.select("__id", "f", "term", contrib)
        .groupBy("__id")
        .agg(F.array_sort(F.collect_list(F.struct("f", "term", "contrib"))).alias("__cs"))
        .select(
            F.col("__id").alias(id_col),
            F.round(
                F.aggregate("__cs", F.lit(0.0), lambda acc, s: acc + s["contrib"]), 4
            ).alias("score"),
        )
    )


def multi_match_bm25(
    df: DataFrame,
    id_col: str,
    fields: dict[str, float],
    query_terms: Sequence[str],
    fuzzy: bool = True,
    k1: float = 1.2,
    b: float = 0.75,
    prefix_length: int = 0,
    max_expansions: int | None = 50,
) -> DataFrame:
    """ES-style ``multi_match`` ranked by BM25 (the reference's ``/search``
    semantic, api.py:210-221: ``title^3, genres`` + AUTO fuzziness scored
    by Lucene BM25). Per field: each query term fuzzily expands against the
    FIELD VOCABULARY (every distinct token within its AUTO edit distance
    gets its own df/idf, like Lucene's fuzzy term expansion), expanded
    terms are BM25-scored with that field's corpus statistics, and the
    field score is weighted by its boost; a doc's score sums over fields
    (``most_fields`` combination). Returns (id, score) for docs matching
    at least one expanded term in any field.

    Scale shape — fully relational, data-dependent expansion and all:
    tokens explode once per field into a tagged union; term frequencies
    and the vocabulary are two shuffles on (field, term); the expansion
    frame (|vocab-hits| rows) and per-field stats (|fields| rows)
    broadcast onto the tf frame; the final per-doc reduce is ONE shuffle
    on id. No per-query corpus rescan beyond the single tokenize pass,
    no driver round-trips. Per-doc float totals left-fold in sorted
    (field, term) order so scores are reproducible bit-for-bit (and
    hash-match the DuckDB oracle's ``list_reduce``).

    With a single field, boost 1.0 and ``fuzzy=False`` this reduces to
    :func:`bm25_score` on the docs that contain at least one query term
    (guarded by tests/test_reference_parity.py)."""
    expl_parts, stats_parts = [], []
    for fi, fld in enumerate(fields):
        toked = df.select(
            F.col(id_col).alias("__id"), tokens(fld).alias("__tk")
        ).withColumn("__dl", F.size("__tk"))
        stats_parts.append(
            toked.agg(
                F.count(F.lit(1)).alias("n"), F.sum("__dl").alias("sumdl")
            ).select(F.lit(fi).alias("f"), "n", "sumdl")
        )
        expl_parts.append(
            toked.select(
                F.lit(fi).alias("f"), "__id", "__dl", F.explode("__tk").alias("term")
            )
        )
    expl = expl_parts[0]
    for p in expl_parts[1:]:
        expl = expl.unionAll(p)
    stats = stats_parts[0]
    for p in stats_parts[1:]:
        stats = stats.unionAll(p)

    # tfs feeds the vocabulary AND the final scoring join, and those
    # consumers are strictly SEQUENTIAL (vocab -> fuzzy expansion ->
    # scoring join back against tfs), so without a pin the tokenize +
    # explode + (f,id,term) shuffle runs twice back-to-back — no
    # parallel-stage overlap to lose (the pattern where a lazy pin was
    # measured slower, q200/q216, does not apply). Lazy checkpoint:
    # one corpus pass per query batch. At scale, persist the vocabulary
    # once per corpus snapshot and substitute it — the q68
    # prebuilt-index pattern (multi_match_bm25_indexed below).
    # Library-consumer note (ADVICE r11): the embedded checkpoint
    # truncates lineage (tfs is NOT recomputed after executor loss —
    # acceptable for a per-query-batch intermediate) and materializes
    # tfs per invocation regardless of caller-side caching; callers
    # that already persist a tf frame should use the *_indexed path
    # instead of paying the double materialization.
    tfs = expl.groupBy("f", "__id", "__dl", "term").agg(
        F.count(F.lit(1)).alias("tf")
    ).localCheckpoint(eager=False)
    vocab = tfs.groupBy("f", "term").agg(F.count(F.lit(1)).alias("df"))
    # one pass over the vocabulary expands ALL query terms, with ES's
    # prefix_length / max_expansions enumeration bounds
    exp = fuzzy_expand_terms(
        vocab, query_terms, fuzzy=fuzzy,
        prefix_length=prefix_length, max_expansions=max_expansions,
    )
    matched = (
        tfs.join(F.broadcast(exp), ["f", "term"])
        .join(F.broadcast(stats), ["f"])
    )
    return _multi_field_bm25_fold(matched, fields, id_col, k1, b)


def field_tokens(df: DataFrame, id_col: str, fields: dict[str, float]) -> DataFrame:
    """Tokenize every search field in ONE corpus scan: a single projection
    computes all field token arrays, then an inline 2..|fields|-element
    array explode fans out to one row per (doc, field) — unlike a
    per-field union, which would scan the file once per field.

    Returns ``(f, __id, __tk, __dl)`` with ``f`` the field ordinal in
    ``fields`` iteration order.
    """
    ft = F.explode(
        F.array(
            *[
                F.struct(F.lit(fi).alias("f"), tokens(fld).alias("tk"))
                for fi, fld in enumerate(fields)
            ]
        )
    )
    return df.select(F.col(id_col).alias("__id"), ft.alias("__ft")).select(
        F.col("__ft.f").alias("f"),
        "__id",
        F.col("__ft.tk").alias("__tk"),
        F.size("__ft.tk").alias("__dl"),
    )


def multi_match_bm25_indexed(
    df: DataFrame,
    vocab: DataFrame,
    stats: DataFrame,
    id_col: str,
    fields: dict[str, float],
    query_terms: Sequence[str],
    fuzzy: bool = True,
    k1: float = 1.2,
    b: float = 0.75,
    prefix_length: int = 0,
    max_expansions: int | None = 50,
) -> DataFrame:
    """:func:`multi_match_bm25` against a prebuilt per-field index
    (``textindex.build_multimatch_index``) — bit-identical scores, ONE
    corpus scan per query batch instead of two.

    The inline path pays a second corpus pass to derive the fuzzy-
    expansion vocabulary; here the vocabulary (term → df per field) and
    corpus stats (n, sumdl per field) come from index tables built once
    per corpus snapshot and persisted. Query lifecycle:

    1. expand query terms against the broadcast vocabulary (index-only,
       no corpus access) — every (field, vocab term) within AUTO edit
       distance of a query term, Lucene-style independent expansion;
    2. one corpus scan tokenizes all fields (:func:`field_tokens`),
       broadcast-joins the tiny expansion frame per field, and computes
       tf per (doc, field, expanded term) with an array filter — no
       explode shuffle of the corpus tokens at all;
    3. per-doc totals left-fold in sorted (f, term, contrib) order —
       the same canonical order as the inline path, so scores (and the
       DuckDB oracle hash) match bit-for-bit.

    Scale shape: corpus side never shuffles until the final one-shuffle
    groupBy on id; vocabulary and stats are broadcast; works unchanged
    when vocab/stats are parquet-backed (the S7 index-DDL replacement,
    reference ``src/elasticsearch_ingest.py:92-105``).
    """
    # index frames are keyed by field NAME (build_multimatch_index);
    # translate to THIS query's ordinals so a fields dict ordered
    # differently from the one used at build time still scores each term
    # against its own field's statistics. Fields absent from the index
    # simply contribute no matches.
    def _name_to_f(frame: DataFrame) -> DataFrame:
        f_expr = None
        for fi, fld in enumerate(fields):
            hit = F.when(F.col("field") == fld, F.lit(fi))
            f_expr = hit if f_expr is None else f_expr.when(F.col("field") == fld, F.lit(fi))
        return (
            frame.withColumn("f", f_expr)
            .filter(F.col("f").isNotNull())
            .drop("field")
        )

    vocab = _name_to_f(vocab)
    stats = _name_to_f(stats)
    exp = fuzzy_expand_terms(
        vocab, query_terms, fuzzy=fuzzy,
        prefix_length=prefix_length, max_expansions=max_expansions,
    )
    toked = field_tokens(df, id_col, fields)
    matched = (
        toked.join(F.broadcast(exp), "f")
        .withColumn(
            "tf", F.size(F.filter(F.col("__tk"), lambda x: x == F.col("term")))
        )
        .filter(F.col("tf") > 0)
        .join(F.broadcast(stats), ["f"])
    )
    return _multi_field_bm25_fold(matched, fields, id_col, k1, b)


def more_like_this(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target_id,
    k: int = 5,
) -> DataFrame:
    """The reference's genre-overlap recommender (api.py:138-145): find the
    target's token set, return the top-k other docs by token-set overlap.

    Shape: 1-row target broadcast against the corpus — the corpus side
    never shuffles; ranking is a global top-k (TakeOrderedAndProject).
    """
    toked = df.select(
        F.col(id_col),
        F.array_sort(F.array_distinct(tokens(text_col))).alias("__ts"),
    )
    target = toked.filter(F.col(id_col) == F.lit(target_id)).select(
        F.col("__ts").alias("__target_ts")
    )
    cand = toked.filter(F.col(id_col) != F.lit(target_id)).crossJoin(F.broadcast(target))
    scored = cand.select(
        id_col,
        F.size(F.array_intersect("__ts", "__target_ts")).cast("bigint").alias("overlap"),
    ).filter(F.col("overlap") > 0)
    return scored.orderBy(F.desc("overlap"), F.asc(id_col)).limit(k)


# ---------------------------------------------------------------------------
# ES document-hierarchy queries (nested / has_child / has_parent) — the
# last ES query family (the reference's stack supports it via the ES
# image, docker-compose.yml:32, though src/api.py only issues flat
# queries). ES models hierarchies two ways; both have exact relational
# analogs:
#   * join fields (parent/child as separate docs, joined at query time)
#     -> two tables + SEMI-JOINS here;
#   * nested objects (child docs inlined as an array, each matched as a
#     UNIT) -> struct-array column + exists() higher-order predicate.
# ---------------------------------------------------------------------------


def has_child(
    parents: DataFrame,
    children: DataFrame,
    parent_key: str,
    child_key: str,
    child_pred,
    min_children: int = 1,
    max_children: int | None = None,
) -> DataFrame:
    """ES ``has_child``: parent docs with at least ``min_children`` (and
    at most ``max_children``) children matching ``child_pred`` — the ES
    knobs of the same names. Returns parent rows unchanged.

    NULL-key parents count as having ZERO matching children (round-7
    ADVICE): with ``min_children >= 1`` the left-semi join drops them
    (NULL never matches), and with ``min_children <= 0`` the anti-join
    retains them (0 children satisfies min=0 and any max) — both paths
    agree with that reading; it is a semantic invariant, not an
    accident of join type.

    Shape: the child side filters (pushdown-eligible), aggregates to one
    row per parent key (map-side partial combine), and the qualifying key
    set LEFT-SEMI joins the parents — the parent table is never widened
    and duplicate-free by construction. Both sides shuffle on the join
    key at scale; with a selective child predicate the key set collapses
    enough for AQE to pick a broadcast semi-join (observed at test SFs).
    """
    counts = (
        children.filter(child_pred)
        .groupBy(F.col(child_key).alias("__ck"))
        .agg(F.count(F.lit(1)).alias("__nc"))
    )
    if int(min_children) <= 0:
        # ES-valid min_children=0: every parent qualifies on the lower
        # bound (parents with zero matching children have no counts row,
        # so the semi-join below would wrongly drop them — round-6
        # ADVICE). Only the upper bound can exclude, via an anti-join
        # against the over-the-cap key set.
        if max_children is None:
            return parents
        over = counts.filter(F.col("__nc") > int(max_children))
        return parents.join(
            over, parents[parent_key] == over["__ck"], "leftanti"
        )
    counts = counts.filter(F.col("__nc") >= int(min_children))
    if max_children is not None:
        counts = counts.filter(F.col("__nc") <= int(max_children))
    return parents.join(
        counts, parents[parent_key] == counts["__ck"], "leftsemi"
    )


def has_parent(
    children: DataFrame,
    parents: DataFrame,
    parent_key: str,
    child_key: str,
    parent_pred,
) -> DataFrame:
    """ES ``has_parent``: child docs whose parent matches ``parent_pred``.
    Returns child rows unchanged — a LEFT-SEMI join against the filtered
    parent key set (parents are unique per key, so semi == inner here,
    but semi keeps the contract duplicate-safe and lets Spark drop the
    parent payload before the exchange)."""
    keys = parents.filter(parent_pred).select(F.col(parent_key).alias("__pk"))
    return children.join(
        keys, children[child_key] == keys["__pk"], "leftsemi"
    )


def nest_children(
    parents: DataFrame,
    children: DataFrame,
    parent_key: str,
    child_key: str,
    child_cols: Sequence[str],
    out: str = "children",
) -> DataFrame:
    """Materialize the ES NESTED data model: children collapse to a
    sorted struct array attached to their parent row (childless parents
    get an empty array, mirroring an ES doc with no nested objects).
    ``array_sort`` over the full structs makes the array order
    deterministic regardless of shuffle order.

    At scale this is the write-once layout step: persist the nested
    table and every nested query after that is a single-table scan with
    no join at all — exactly why ES nested beats join fields at read
    time."""
    nested = (
        children.groupBy(F.col(child_key).alias("__nk"))
        .agg(
            F.array_sort(
                F.collect_list(F.struct(*[F.col(c) for c in child_cols]))
            ).alias(out)
        )
    )
    joined = parents.join(nested, parents[parent_key] == nested["__nk"], "left")
    return joined.drop("__nk").withColumn(
        out,
        F.coalesce(
            F.col(out),
            F.array().cast(
                "array<struct<"
                + ",".join(f"{c}:{children.schema[c].dataType.simpleString()}" for c in child_cols)
                + ">>"
            ),
        ),
    )


def nested_match(df: DataFrame, nested_col: str, pred) -> DataFrame:
    """ES ``nested`` query: the document matches iff a SINGLE nested
    object satisfies the whole predicate — the semantic that
    distinguishes nested from object mapping (where fields flatten and
    conditions can be met by DIFFERENT children; guarded by a test
    asserting the two semantics genuinely differ on TPC-H data).
    ``exists()`` evaluates in-partition, JVM-side — zero shuffles."""
    return df.filter(F.exists(F.col(nested_col), pred))
