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
  ``serving.search_endpoint`` applies); :func:`search_scores` gives the
  unranked scores on an index.

Spark builds and publishes the index (:func:`build_movie_index_tables` →
:func:`write_movie_index`); :func:`load_movie_index` reads it into memory
and sorts its terms dictionary by length. Fuzzy expansion on the index is
one vectorized numpy edit-distance pass over the terms whose length is
within the query term's fuzziness (:func:`_expand`), exact to the scalar
reference :func:`_lev_le`, which is kept to check it. All ranking is
deterministic (score desc, movieId asc).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import normalize_text, tokens
from . import search as S

_SEARCH_FIELDS: dict[str, float] = {"title": 3.0, "genres_text": 1.0}


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


TermBuckets = dict[int, tuple[tuple[tuple[str, str], ...], np.ndarray]]


def _term_buckets(keys) -> TermBuckets:
    """The terms dictionary sorted by length: term length → (the
    ``(field, term)`` keys of that length, their code points as an
    ``int32`` (length, n) array with one column per term). A bucket holds
    terms of one length only, so nothing is padded and the arrays take
    4 bytes per dictionary character. The arrays are read-only."""
    by_len: dict[int, list[tuple[str, str]]] = {}
    for key in keys:
        by_len.setdefault(len(key[1]), []).append(key)
    buckets: TermBuckets = {}
    for n, ks in sorted(by_len.items()):
        codes = np.ascontiguousarray(_codes("".join(t for _f, t in ks)).reshape(len(ks), n).T)
        codes.flags.writeable = False
        buckets[n] = (tuple(ks), codes)
    return buckets


def _expand(buckets: TermBuckets, qt: str, d: int) -> list[tuple[str, str]]:
    """The keys whose term is within ``d`` edits of ``qt`` — exactly the
    keys :func:`_lev_le` accepts, from one vectorized edit-distance pass
    per term length in ``len(qt) ± d``.

    Each bucket row (one character position across all of its terms)
    advances the whole DP table, held as ``P[j] = D[j] - j`` for query
    position ``j``. Within a row, ``D[j] = min(best[j], D[j-1] + 1)``
    unrolls to ``D[j] = j + cummin_k(best[k] - k)``, so the sequential
    inner loop becomes one ``minimum.accumulate``."""
    q = _codes(qt)[:, None]
    m = len(qt)
    hits: list[tuple[str, str]] = []
    for n in range(max(0, m - d), m + d + 1):
        if n not in buckets:
            continue
        keys, codes = buckets[n]
        p = np.zeros((m + 1, len(keys)), np.int32)
        for i, c in enumerate(codes, 1):
            best = np.empty_like(p)
            best[0] = i
            np.minimum(p[1:] + 1, p[:-1] - (q == c), out=best[1:])
            p = np.minimum.accumulate(best, axis=0, out=best)
        hits.extend(keys[k] for k in np.flatnonzero(p[m] <= d - m))
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
    dict and list lookups, with no Spark job.

    - ``by_id`` — movieId → ``{movieId, title, release_date, genres}``;
    - ``titles`` — ``(movieId, __title_norm)`` pairs in movieId order,
      scanned by the title phrase probe;
    - ``postings`` — ``(field, term)`` → movieIds; its keys are ``terms``,
      the terms dictionary;
    - ``buckets`` — the same dictionary sorted by length for fuzzy
      expansion: term length → (keys, ``int32`` code points stored
      transposed, one column per term), built by :func:`_term_buckets`;
      it takes 4 bytes per dictionary character;
    - ``docs`` — a Spark frame over exactly the docs files the load read,
      for offline inspection; no request touches it.

    The structures are never mutated after the load, so concurrent
    request threads share them without locks, and the copy is its own
    point-in-time snapshot: a later rebuild or append of the index
    directory is invisible until the next load.
    """

    docs: DataFrame
    by_id: dict[int, dict]
    titles: tuple[tuple[int, str], ...]
    postings: dict[tuple[str, str], list[int]]
    buckets: TermBuckets

    @property
    def terms(self):
        """The terms dictionary: every ``(field, term)`` pair."""
        return self.postings.keys()


def ranked_pairs(scores: dict[int, float]) -> list[tuple[float, int]]:
    """``(score, movieId)`` pairs, ranked score desc, movieId asc."""
    return sorted(((s, mid) for mid, s in scores.items()), key=lambda p: (-p[0], p[1]))


def _ranked(index: MovieIndex, scores: dict[int, float], limit: int | None = None) -> list[dict]:
    """Hit documents with their score, ranked by :func:`ranked_pairs`."""
    return [{**index.by_id[mid], "score": s} for s, mid in ranked_pairs(scores)[:limit]]


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

    Against a :class:`MovieIndex`, the probe is a substring test on the
    stored ``__title_norm`` strings — exactly the normalized haystack the
    inline ``phrase_match`` path builds per request — and the hits are
    the first ``size`` documents in movieId order."""
    if isinstance(movies, MovieIndex):
        needle = " " + re.sub(r"[^a-z0-9]+", " ", title_query.lower()).strip() + " "
        ids = [mid for mid, norm in movies.titles if needle in norm][:size]
        hits = [dict(movies.by_id[mid]) for mid in ids]
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
    array is stored in both serving inputs — no tokenization either way."""
    if isinstance(movies, MovieIndex):
        want = set(genres)
        scores: dict[int, int] = {}
        for mid, doc in movies.by_id.items():
            n = len(want.intersection(doc["genres"] or ()))
            if n and mid != movie_id:
                scores[mid] = n
        return _ranked(movies, scores, k)
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

    Against a :class:`MovieIndex`: exact-term probes of the title
    postings; a repeated query word counts once per occurrence, like the
    inline path's per-word ``array_contains`` sum."""
    words = [w for w in title.lower().replace("(", " ").replace(")", " ").split() if len(w) >= min_len]
    if isinstance(movies, MovieIndex):
        scores: dict[int, int] = {}
        for w in words:
            for mid in movies.postings.get(("title", w), ()):
                scores[mid] = scores.get(mid, 0) + 1
        scores.pop(movie_id, None)
        return _ranked(movies, scores, k)
    toks = tokens("title")
    score = S.keyword_match_count(toks, words, min_len=min_len)
    return (
        movies.filter(S.term("movieId", movie_id) == F.lit(False))  # must_not self
        .select("movieId", "title", "release_date", "genres", score.alias("score"))
        .filter(F.col("score") >= 1)
        .orderBy(F.desc("score"), F.asc("movieId"))
        .limit(k)
    )


def search_scores(index: MovieIndex, query: str) -> dict[int, float]:
    """movieId → score of every ``GET /search`` hit on a loaded index.

    This is Lucene's fuzzy plan: each query term expands against the
    length-sorted terms dictionary (:func:`_expand`, one vectorized
    edit-distance pass, exact to :func:`_lev_le`), and a doc scores
    boost × (#query-term occurrences fuzzily present in the field) — the
    inline ``multi_match_score`` semantics. The scores are sums of 3.0
    and 1.0, exact in binary float, so they equal the inline path's
    4-digit rounding."""
    scores: dict[int, float] = {}
    for qt in query.lower().split():
        found: dict[str, set[int]] = {}
        for key in _expand(index.buckets, qt, S.auto_fuzziness(qt)):
            found.setdefault(key[0], set()).update(index.postings[key])
        for field, ids in found.items():
            for mid in ids:
                scores[mid] = scores.get(mid, 0.0) + _SEARCH_FIELDS[field]
    return scores


def search_hits(movies: DataFrame | MovieIndex, query: str) -> DataFrame | list[dict]:
    """All docs matching the ``GET /search`` fuzzy multi_match (title^3,
    genres^1, AUTO fuzziness), score > 0, before pagination — the hits
    behind both the page window and the ``hits.total.value`` count.

    Against a :class:`MovieIndex`, the hits are :func:`search_scores`
    ranked (score desc, movieId asc)."""
    if isinstance(movies, MovieIndex):
        return _ranked(movies, search_scores(movies, query))
    terms = [t for t in query.lower().split() if t]
    return S.multi_match_score(
        movies.withColumn("genres_text", F.concat_ws(" ", "genres")),
        {"title": _SEARCH_FIELDS["title"], "genres_text": _SEARCH_FIELDS["genres_text"]},
        terms,
        fuzzy=True,
    ).filter(F.col("score") > 0)


def write_movie_index(tables: MovieIndexTables, index_dir: str) -> None:
    """Publish the built index as ``docs.parquet`` and ``postings.parquet``
    under ``index_dir`` (the offline build step)."""
    tables.docs.write.mode("overwrite").parquet(f"{index_dir}/docs.parquet")
    tables.postings.write.mode("overwrite").parquet(f"{index_dir}/postings.parquet")


def load_movie_index(spark, index_dir: str) -> MovieIndex:
    """Read a published index once, with pyarrow, into serving-process
    memory. The docs and postings are read from one file listing each,
    so the loaded copy is a point-in-time snapshot of the directory.
    Postings are grouped by ``(field, term)`` inside Arrow (a per-row
    Python loop costs about 5x more at 100k postings). The terms are then
    bucketed by length as ``int32`` code points (:func:`_term_buckets`),
    for the vectorized fuzzy expansion that is exact to :func:`_lev_le`;
    at 25k movies (7k terms) that takes about 3 ms and 170 KB."""
    import pyarrow.dataset as ds
    from pyspark.sql.pandas.types import from_arrow_schema

    docs = ds.dataset(f"{index_dir}/docs.parquet", format="parquet")
    c = docs.to_table(
        columns=["movieId", "title", "release_date", "genres", "__title_norm"]
    ).to_pydict()
    by_id = {
        mid: {"movieId": mid, "title": title, "release_date": date, "genres": genres}
        for mid, title, date, genres in zip(c["movieId"], c["title"], c["release_date"], c["genres"])
    }
    # a null title never phrase-matches, as on the frame path
    titles = tuple(sorted(
        (mid, norm) for mid, norm in zip(c["movieId"], c["__title_norm"]) if norm is not None
    ))
    grouped = (
        ds.dataset(f"{index_dir}/postings.parquet", format="parquet")
        .to_table(columns=["field", "term", "movieId"])
        .group_by(["field", "term"])
        .aggregate([("movieId", "list")])
        .to_pydict()
    )
    postings = dict(
        zip(zip(grouped["field"], grouped["term"]), grouped["movieId_list"])
    )
    return MovieIndex(
        # the Arrow schema spares Spark a footer read to infer it
        docs=spark.read.schema(from_arrow_schema(docs.schema)).parquet(*docs.files),
        by_id=by_id,
        titles=titles,
        postings=postings,
        buckets=_term_buckets(postings),
    )
