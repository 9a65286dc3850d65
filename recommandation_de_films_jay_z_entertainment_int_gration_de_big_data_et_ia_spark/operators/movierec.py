"""The reference API's recommendation flows as engine functions.

Re-expresses ``src/api.py`` endpoint logic (Flask → Elasticsearch). Each
flow takes either the raw movies DataFrame, and answers with a frame the
serving layer collects, or a loaded :class:`MovieIndex`, and answers with
a list of documents from process memory, without a Spark job:

- :func:`lookup_title` — ``POST /recommend`` step 1 (api.py:91-116):
  phrase match on title, top-5, with the multi-hit disambiguation branch.
- :func:`recommend_by_genre_overlap` — step 2 genre path (api.py:138-149):
  candidates sharing ≥1 genre, excluding the source movie, top-k.
- :func:`recommend_by_title_keywords` — step 2 fallback path
  (api.py:121-135): keyword `should` clauses from title words longer than
  3 chars, minimum_should_match=1, ranked by match count.
- :func:`search_hits` — ``GET /search`` (api.py:197-221): fuzzy
  multi_match over title^3 + genres, before pagination (which
  ``serving.search_endpoint`` applies); :func:`search_page` gives one
  page and the hit count on an index.

Spark builds and publishes the index (:func:`build_movie_index_tables` →
:func:`write_movie_index`); :func:`load_movie_index` reads it into
``int32`` postings over dense document positions (movieIds ascending, so
position order is the movieId tie-break). Every index flow is then the
same two numpy kernels: one ``bincount`` over the concatenated postings
of the query's terms or genres (:func:`_bincount`), and one
``argpartition`` top-k (:func:`_top`). The title probe intersects the
postings of the phrase's tokens before any substring test. Fuzzy
expansion drops the terms whose binned bag distance already exceeds the
fuzziness (:func:`_bag_bound`, a lower bound on the edit distance) and
runs one vectorized edit-distance pass over the rest (:func:`_expand`),
exact to the scalar reference :func:`_lev_le`, which is kept to check
it. All ranking is deterministic (score desc, movieId asc).
"""

from __future__ import annotations

import re
from collections import Counter
from dataclasses import dataclass
from itertools import islice

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import normalize_text, tokens
from . import search as S

_SEARCH_FIELDS: dict[str, float] = {"title": 3.0, "genres_text": 1.0}
_BINS = 32  # code points mod 32: the histogram bins of the bag-distance bound
_NONE = np.empty(0, np.int32)


def _lev_le(a: str, b: str, d: int) -> bool:
    """``levenshtein(a, b) <= d`` matching Spark's built-in exactly
    (unit-cost edit distance over code points), with the standard
    length-band and row-minimum early exits."""
    if abs(len(a) - len(b)) > d:
        return False
    if a == b:
        return True
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        row_min = i
        for j, cb in enumerate(b, 1):
            v = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            cur.append(v)
            if v < row_min:
                row_min = v
        if row_min > d:
            return False
        prev = cur
    return prev[-1] <= d


def _codes(s: str) -> np.ndarray:
    """The code points of ``s`` as ``int32`` — any ``str``, lone
    surrogates included, as :func:`_lev_le` compares them."""
    return np.fromiter(map(ord, s), np.int32, len(s))


def _hist(codes: np.ndarray) -> np.ndarray:
    """Per row of ``codes`` (terms × characters), how many code points
    fall in each bin mod 32, as ``int16``. A count is capped at the
    ``int16`` maximum, which can only lower :func:`_bag_bound`."""
    k, n = codes.shape
    rows = np.arange(k, dtype=np.int64)[:, None] * _BINS
    counts = np.bincount((rows + codes % _BINS).ravel(), minlength=k * _BINS)
    return np.minimum(counts, np.iinfo(np.int16).max).astype(np.int16).reshape(k, _BINS)


def _bag_bound(hist: np.ndarray, qhist: np.ndarray, m: int, n: int) -> np.ndarray:
    """The binned bag distance between each length-``n`` term (a row of
    ``hist``) and a length-``m`` query term: ``max(|T − Q|, |Q − T|)``
    over the binned multisets, where ``|Q − T| = |T − Q| + m − n``.
    Merging characters into bins can only shrink a multiset difference,
    and bag distance never exceeds edit distance, so this is a lower
    bound on the edit distance."""
    return np.maximum(hist - qhist, 0).sum(axis=1, dtype=np.int32) + max(0, m - n)


TermBuckets = dict[int, tuple[tuple[tuple[str, str], ...], np.ndarray, np.ndarray]]


def _term_buckets(keys) -> TermBuckets:
    """The terms dictionary sorted by length: term length → (the
    ``(field, term)`` keys of that length, their code points as an
    ``int32`` (length, n) array with one column per term, and their
    :func:`_hist` rows). A bucket holds terms of one length only, so
    nothing is padded; the arrays take 4 bytes per dictionary character
    and 64 bytes per term. The arrays are read-only."""
    by_len: dict[int, list[tuple[str, str]]] = {}
    for key in keys:
        by_len.setdefault(len(key[1]), []).append(key)
    buckets: TermBuckets = {}
    for n, ks in sorted(by_len.items()):
        rows = _codes("".join(t for _f, t in ks)).reshape(len(ks), n)
        codes, hist = np.ascontiguousarray(rows.T), _hist(rows)
        codes.flags.writeable = hist.flags.writeable = False
        buckets[n] = (tuple(ks), codes, hist)
    return buckets


def _expand(buckets: TermBuckets, qt: str, d: int) -> list[tuple[str, str]]:
    """The keys whose term is within ``d`` edits of ``qt`` — exactly the
    keys :func:`_lev_le` accepts. Per term length in ``len(qt) ± d``,
    :func:`_bag_bound` first drops the terms that cannot be within
    ``d``; one vectorized edit-distance pass then decides the rest.

    Each bucket row (one character position across the kept terms)
    advances the whole DP table, held as ``P[j] = D[j] - j`` for query
    position ``j``. Within a row, ``D[j] = min(best[j], D[j-1] + 1)``
    unrolls to ``D[j] = j + cummin_k(best[k] - k)``, so the sequential
    inner loop becomes one ``minimum.accumulate``."""
    q = _codes(qt)
    m = len(qt)
    qhist = _hist(q[None, :])[0]
    q = q[:, None]
    hits: list[tuple[str, str]] = []
    for n in range(max(0, m - d), m + d + 1):
        if n not in buckets:
            continue
        keys, codes, hist = buckets[n]
        kept = np.flatnonzero(_bag_bound(hist, qhist, m, n) <= d)
        if not len(kept):
            continue
        p = np.zeros((m + 1, len(kept)), np.int32)
        for i, c in enumerate(codes[:, kept], 1):
            best = np.empty_like(p)
            best[0] = i
            np.minimum(p[1:] + 1, p[:-1] - (q == c), out=best[1:])
            p = np.minimum.accumulate(best, axis=0, out=best)
        hits.extend(keys[k] for k in kept[p[m] <= d - m])
    return hits


@dataclass(frozen=True)
class MovieIndexTables:
    """The BUILT form of the serving index (the engine's analog of the
    reference's ES ``movies`` index, elasticsearch_ingest.py:92-105), as
    frames for :func:`write_movie_index`:

    - ``docs`` — one row per movie with the payload columns plus the
      ``__title_norm`` phrase-probe column: the normalized title with one
      space on each side;
    - ``postings`` — the ``(field, term, movieId)`` distinct-token
      inverted index over title and the flattened genres text.
    """

    docs: DataFrame
    postings: DataFrame


@dataclass(frozen=True)
class MovieIndex:
    """The LOADED form: a published index held in serving-process memory,
    the way Lucene holds its terms dictionary and postings. Only
    :func:`load_movie_index` constructs it; every request is answered by
    numpy kernels over document positions, with no Spark job and no scan
    of every document.

    - ``ids`` — the movieId at each document position, ascending;
    - ``by_id`` — movieId → ``{movieId, title, release_date, genres}``;
    - ``title_norm`` — the ``__title_norm`` phrase-probe string by
      position, ``None`` for a null title;
    - ``postings`` — ``(field, term)`` → the sorted ``int32`` positions
      of the documents holding the term; its keys are ``terms``, the
      terms dictionary;
    - ``genres`` — genre → the sorted ``int32`` positions of the
      documents listing it;
    - ``buckets`` — the terms dictionary sorted by length for fuzzy
      expansion, built by :func:`_term_buckets`;
    - ``docs`` — a Spark frame over exactly the docs files the load read,
      for offline inspection; no request touches it.

    At 25k movies (7.1k terms, 116k postings) the numpy arrays take
    1.3 MB; the documents, their dict and the title strings take most of
    the rest (tracemalloc: 19.8 MB in all). The structures are never mutated
    after the load, so concurrent request threads share them without
    locks, and the copy is its own point-in-time snapshot: a later
    rebuild or append of the index directory is invisible until the next
    load.
    """

    docs: DataFrame
    ids: np.ndarray
    by_id: dict[int, dict]
    title_norm: tuple[str | None, ...]
    postings: dict[tuple[str, str], np.ndarray]
    genres: dict[str, np.ndarray]
    buckets: TermBuckets

    @property
    def terms(self):
        """The terms dictionary: every ``(field, term)`` pair."""
        return self.postings.keys()


def _bincount(n: int, groups, weights=None) -> np.ndarray:
    """The scoring kernel of every index flow: per document position,
    how many of the postings ``groups`` hold it, or the sum of their
    ``weights``. One ``bincount`` over the concatenated postings."""
    ids = np.concatenate([_NONE, *groups])
    if weights is not None:
        weights = np.repeat(np.asarray(weights, np.float64), [len(g) for g in groups])
    return np.bincount(ids, weights, minlength=n)


def _top(scores: np.ndarray, k: int) -> np.ndarray:
    """The positions of the ``k`` highest nonzero ``scores``, ranked
    score desc, position (so movieId) asc, without sorting every hit:
    ``argpartition`` finds the k-th score, every higher score is kept,
    and the ties at it are taken in position order."""
    if k <= 0:
        return _NONE
    hit = np.flatnonzero(scores)
    s = scores[hit]
    if k < len(hit):
        kth = s[np.argpartition(-s, k - 1)[k - 1]]
        above = np.flatnonzero(s > kth)
        ties = np.flatnonzero(s == kth)[: k - len(above)]
        keep = np.concatenate([above, ties])
        hit, s = hit[keep], s[keep]
    return hit[np.lexsort((hit, -s))]


def _hits(index: MovieIndex, scores: np.ndarray, pos: np.ndarray) -> list[dict]:
    """The documents at ``pos`` with their score."""
    return [
        {**index.by_id[mid], "score": s}
        for mid, s in zip(index.ids[pos].tolist(), scores[pos].tolist())
    ]


def _without(index: MovieIndex, scores: np.ndarray, movie_id: int) -> np.ndarray:
    """``scores`` with the source movie's zeroed (the ``must_not`` self)."""
    p = np.searchsorted(index.ids, movie_id)
    if p < len(index.ids) and index.ids[p] == movie_id:
        scores[p] = 0
    return scores


def build_movie_index_tables(movies: DataFrame) -> MovieIndexTables:
    """One corpus scan per frame; the postings explode is map-side."""
    docs = movies.select(
        "movieId",
        "title",
        "release_date",
        "genres",
        F.concat(F.lit(" "), normalize_text("title"), F.lit(" ")).alias("__title_norm"),
    )
    tp = movies.select(
        F.lit("title").alias("field"),
        F.explode(F.array_distinct(tokens("title"))).alias("term"),
        "movieId",
    )
    gp = movies.withColumn("genres_text", F.concat_ws(" ", "genres")).select(
        F.lit("genres_text").alias("field"),
        F.explode(F.array_distinct(tokens("genres_text"))).alias("term"),
        "movieId",
    )
    return MovieIndexTables(docs=docs, postings=tp.unionByName(gp))


def movie_frame(movies: DataFrame | MovieIndex) -> DataFrame | dict[int, dict]:
    """The payload view of either serving input: the movies frame itself,
    or an index's documents by movieId."""
    if isinstance(movies, MovieIndex):
        return movies.by_id
    return movies


def lookup_title(
    movies: DataFrame | MovieIndex, title_query: str, size: int = 5
) -> tuple[str, DataFrame | list[dict]]:
    """Phrase-match a title; returns (status, hits) where status ∈
    {'none', 'ambiguous', 'unique'} mirroring api.py:95-116's branches.

    Against a :class:`MovieIndex` this is Lucene's phrase plan: the
    title postings of the phrase's tokens are intersected first, and only
    the surviving documents get the substring test on the stored
    ``__title_norm`` — exactly the normalized haystack the inline
    ``phrase_match`` path builds per request. The hits are the first
    ``size`` documents in movieId order. An empty phrase has the one
    token ``""``, as Spark's ``split`` gives an empty title."""
    if isinstance(movies, MovieIndex):
        norm = re.sub(r"[^a-z0-9]+", " ", title_query.lower()).strip()
        needle = f" {norm} "
        lists = sorted((movies.postings.get(("title", t), _NONE) for t in set(norm.split(" "))),
                       key=len)
        pos = lists[0]
        for other in lists[1:]:
            pos = np.intersect1d(pos, other, assume_unique=True)
        pos = list(islice((p for p in pos.tolist() if needle in movies.title_norm[p]), size))
        hits = [dict(movies.by_id[mid]) for mid in movies.ids[pos].tolist()]
        n = len(hits)
    else:
        hits = movies.filter(S.phrase_match("title", title_query)).select(
            "movieId", "title", "release_date", "genres"
        ).orderBy(F.asc("movieId")).limit(size)
        n = hits.count()
    status = "none" if n == 0 else ("unique" if n == 1 else "ambiguous")
    return status, hits


def recommend_by_genre_overlap(
    movies: DataFrame | MovieIndex, movie_id: int, genres: list[str], k: int = 5
) -> DataFrame | list[dict]:
    """bool{must: terms(genres), must_not: term(movieId)} ranked by genre
    overlap size (deterministic stand-in for ES relevance). The genres
    array is stored in both serving inputs — no tokenization either way.
    On a :class:`MovieIndex` the overlap is one :func:`_bincount` over the
    genre postings of the distinct query genres."""
    if isinstance(movies, MovieIndex):
        groups = [movies.genres[g] for g in set(genres) if g in movies.genres]
        scores = _without(movies, _bincount(len(movies.ids), groups), movie_id)
        return _hits(movies, scores, _top(scores, k))
    frame = movie_frame(movies)
    pred = S.bool_query(
        must=[S.terms_overlap(F.col("genres"), genres)],
        must_not=[S.term("movieId", movie_id)],
    )
    overlap = F.size(
        F.array_intersect(F.col("genres"), F.array(*[F.lit(g) for g in genres]))
    )
    return (
        frame.filter(pred)
        .select("movieId", "title", "release_date", "genres", overlap.alias("score"))
        .orderBy(F.desc("score"), F.asc("movieId"))
        .limit(k)
    )


def recommend_by_title_keywords(
    movies: DataFrame | MovieIndex, movie_id: int, title: str, k: int = 5, min_len: int = 4
) -> DataFrame | list[dict]:
    """Fallback when the source movie has no genres: any long title word
    matches (minimum_should_match=1), ranked by #matching words.

    Against a :class:`MovieIndex`: one :func:`_bincount` over the title
    postings of the words; a repeated query word counts once per
    occurrence, like the inline path's per-word ``array_contains`` sum."""
    words = [w for w in title.lower().replace("(", " ").replace(")", " ").split() if len(w) >= min_len]
    if isinstance(movies, MovieIndex):
        groups = [movies.postings[("title", w)] for w in words if ("title", w) in movies.postings]
        scores = _without(movies, _bincount(len(movies.ids), groups), movie_id)
        return _hits(movies, scores, _top(scores, k))
    toks = tokens("title")
    score = S.keyword_match_count(toks, words, min_len=min_len)
    return (
        movies.filter(S.term("movieId", movie_id) == F.lit(False))  # must_not self
        .select("movieId", "title", "release_date", "genres", score.alias("score"))
        .filter(F.col("score") >= 1)
        .orderBy(F.desc("score"), F.asc("movieId"))
        .limit(k)
    )


def _search_scores(index: MovieIndex, query: str) -> np.ndarray:
    """The ``GET /search`` score of every document position on a loaded
    index.

    This is Lucene's fuzzy plan: each distinct query term expands once
    against the length-sorted terms dictionary (:func:`_expand`), and a
    doc scores boost × (#query-term occurrences fuzzily present in the
    field) — the inline semantics — through one :func:`_bincount`. The
    scores are sums of 3.0 and 1.0, exact in binary float, so they equal
    the inline path's 4-digit rounding."""
    groups, weights = [], []
    for qt, count in Counter(query.lower().split()).items():
        found: dict[str, list[np.ndarray]] = {}
        for key in _expand(index.buckets, qt, S.auto_fuzziness(qt)):
            found.setdefault(key[0], []).append(index.postings[key])
        for field, lists in found.items():
            groups.append(lists[0] if len(lists) == 1 else np.unique(np.concatenate(lists)))
            weights.append(_SEARCH_FIELDS[field] * count)
    return _bincount(len(index.ids), groups, weights)


def search_page(index: MovieIndex, query: str, lo: int, size: int) -> tuple[list[dict], int]:
    """Hits ``lo`` to ``lo + size`` of a ``GET /search`` on a loaded
    index, ranked (score desc, movieId asc), and the count of all hits."""
    scores = _search_scores(index, query)
    pos = _top(scores, lo + size)[lo:]
    return [index.by_id[mid] for mid in index.ids[pos].tolist()], int(np.count_nonzero(scores))


def search_hits(movies: DataFrame | MovieIndex, query: str) -> DataFrame | list[dict]:
    """All docs matching the ``GET /search`` fuzzy multi_match (title^3,
    genres^1, AUTO fuzziness), score > 0, before pagination — the hits
    behind both the page window and the ``hits.total.value`` count.

    Against a :class:`MovieIndex`, the hits are every scored position,
    ranked (score desc, movieId asc)."""
    if isinstance(movies, MovieIndex):
        scores = _search_scores(movies, query)
        return _hits(movies, scores, _top(scores, len(movies.ids)))
    terms = [t for t in query.lower().split() if t]
    frame = movies.withColumn("genres_text", F.concat_ws(" ", "genres"))
    return S.multi_match_score(frame, _SEARCH_FIELDS, terms).filter(F.col("score") > 0)


def write_movie_index(tables: MovieIndexTables, index_dir: str) -> None:
    """Publish the built index as ``docs.parquet`` and ``postings.parquet``
    under ``index_dir`` (the offline build step)."""
    tables.docs.write.mode("overwrite").parquet(f"{index_dir}/docs.parquet")
    tables.postings.write.mode("overwrite").parquet(f"{index_dir}/postings.parquet")


def _grouped(table, keys: list[str]) -> dict:
    """The distinct ``pos`` values of ``table`` grouped by its ``keys``
    columns, as sorted read-only ``int32`` arrays: Arrow groups, numpy
    sorts once and splits, with no per-posting Python loop."""
    g = table.group_by(keys, use_threads=False).aggregate([("pos", "distinct")])
    lists = g["pos_distinct"].combine_chunks()
    offsets = lists.offsets.to_numpy() - lists.offsets[0].as_py()
    vals = lists.flatten().to_numpy()
    group = np.repeat(np.arange(len(g)), np.diff(offsets))
    vals = vals[np.lexsort((vals, group))].astype(np.int32)
    vals.flags.writeable = False
    names = zip(*(g[k].to_pylist() for k in keys)) if len(keys) > 1 else g[keys[0]].to_pylist()
    return dict(zip(names, np.split(vals, offsets[1:-1])))


def _index_arrays(docs, postings) -> dict:
    """Every :class:`MovieIndex` field but ``docs``, from the Arrow docs
    and postings tables. Documents take dense positions in movieId order
    (the first row of a repeated movieId wins); a posting of an unknown
    movieId is dropped."""
    import pyarrow as pa
    import pyarrow.compute as pc

    docs = docs.sort_by("movieId")
    mids = docs["movieId"].to_numpy()
    first = np.ones(len(mids), bool)
    first[1:] = mids[1:] != mids[:-1]
    docs, ids = docs.filter(pa.array(first)), mids[first]
    c = docs.to_pydict()
    by_id = {
        mid: {"movieId": mid, "title": title, "release_date": date, "genres": genres}
        for mid, title, date, genres in zip(c["movieId"], c["title"], c["release_date"], c["genres"])
    }
    pmids = postings["movieId"].to_numpy()
    pos = np.searchsorted(ids, pmids)
    known = pos < len(ids)
    known[known] = ids[pos[known]] == pmids[known]
    postings = postings.append_column("pos", pa.array(pos)).filter(pa.array(known))
    postings = _grouped(postings, ["field", "term"])
    genres = docs["genres"].combine_chunks()
    genre_pos = pa.table({"genre": pc.list_flatten(genres), "pos": pc.list_parent_indices(genres)})
    return {
        "ids": ids,
        "by_id": by_id,
        # a null title never phrase-matches, as on the frame path
        "title_norm": tuple(c["__title_norm"]),
        "postings": postings,
        "genres": _grouped(genre_pos, ["genre"]),
        "buckets": _term_buckets(postings),
    }


def load_movie_index(spark, index_dir: str) -> MovieIndex:
    """Read a published index once, with pyarrow, into serving-process
    memory. The docs and postings are read from one file listing each,
    so the loaded copy is a point-in-time snapshot of the directory.
    The postings become sorted ``int32`` position arrays per term and per
    genre, and the terms are bucketed by length with their code points
    and bag-distance histograms (:func:`_term_buckets`). At 25k movies
    the whole load takes about 0.41 s warm, Spark's ``docs`` frame
    included."""
    import pyarrow.dataset as ds
    from pyspark.sql.pandas.types import from_arrow_schema

    docs = ds.dataset(f"{index_dir}/docs.parquet", format="parquet")
    postings = ds.dataset(f"{index_dir}/postings.parquet", format="parquet")
    return MovieIndex(
        # the Arrow schema spares Spark a footer read to infer it
        docs=spark.read.schema(from_arrow_schema(docs.schema)).parquet(*docs.files),
        **_index_arrays(
            docs.to_table(columns=["movieId", "title", "release_date", "genres", "__title_norm"]),
            postings.to_table(columns=["field", "term", "movieId"]),
        ),
    )
