"""The loaded serving index and the reference API's flows over it,
without Spark: this module imports numpy, and pyarrow to load.

:func:`.movierec.load_movie_index` reads a published index into a
:class:`MovieIndex` of ``int32`` postings over document positions
(movieIds ascending, so position order is the movieId tie-break), with
the documents left in the loaded Arrow columns and decoded only for the
hits a flow returns. Each flow takes only that index and answers from
process memory:
:func:`lookup_title` and the two recommend flows (``POST /recommend``,
api.py:91-149), :func:`search_page` (``GET /search``, api.py:197-221) and
:func:`movie_by_id` (``GET /movie/<id>``). Every flow is one ``bincount``
over the concatenated postings of the query's terms or genres
(:func:`_bincount`) and one ``argpartition`` top-k (:func:`_top`). The
title probe intersects the postings of the phrase's tokens before any
substring test. Fuzzy expansion drops the terms whose binned bag distance
exceeds the fuzziness (:func:`_bag_bound`, a lower bound on the edit
distance), then runs one vectorized edit-distance pass over the rest
(:func:`_expand`), exact to the scalar reference ``movierec._lev_le``.
All ranking is score desc, movieId asc.

The raw-frame oracle flows in :mod:`.movierec` import the rules both
backends share from here: the fuzziness bands, the boosts, the query
terms and the keywords.
"""

from __future__ import annotations

import re
from bisect import bisect_left
from collections import Counter
from dataclasses import dataclass
from itertools import islice

import numpy as np

SEARCH_FIELDS: dict[str, float] = {"title": 3.0, "genres_text": 1.0}
_BINS = 32  # code points mod 32: the histogram bins of the bag-distance bound
_NONE = np.empty(0, np.int32)


def auto_fuzziness(term_str: str) -> int:
    """ES ``fuzziness: AUTO`` bands (public rule)."""
    n = len(term_str)
    return 0 if n <= 2 else (1 if n <= 5 else 2)


def normalize_phrase(s: str) -> str:
    """Python twin of ``functions.text.normalize_text``: lowercase,
    non-alphanumeric runs to one space, trimmed."""
    return re.sub(r"[^a-z0-9]+", " ", s.lower()).strip()


def query_terms(query: str) -> list[str]:
    """The terms of a ``GET /search`` query, repeats kept."""
    return query.lower().split()


def keywords(title: str, min_len: int) -> list[str]:
    """The title-keyword fallback's `should` words: the title's words of
    at least ``min_len`` characters."""
    return [w for w in title.lower().replace("(", " ").replace(")", " ").split() if len(w) >= min_len]


def match_status(n: int) -> str:
    """The title lookup's branch for ``n`` hits (api.py:95-116)."""
    return "none" if n == 0 else ("unique" if n == 1 else "ambiguous")


def _codes(s: str) -> np.ndarray:
    """The code points of ``s`` as ``int32`` — any ``str``, lone
    surrogates included, as ``movierec._lev_le`` compares them."""
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
    keys ``movierec._lev_le`` accepts. Per term length in ``len(qt) ± d``,
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


class _Column:
    """A zero-copy view of a loaded Arrow string or ``list<string>``
    column: its offsets, its values (the UTF-8 data buffer, or the list
    values as codes into ``names``, their dictionary) and its validity, as
    memoryviews, whose reads give Python objects without numpy scalars. A
    value is decoded when its position is read; a null reads ``None``."""

    __slots__ = ("offsets", "values", "names", "valid")

    def __init__(self, arr):
        self.valid = memoryview(arr.is_valid().to_numpy(zero_copy_only=False))
        if arr.type.num_fields:  # list<string>
            values = arr.values.dictionary_encode(null_encoding="encode")
            self.offsets, self.values = memoryview(arr.offsets.to_numpy()), memoryview(values.indices.to_numpy())
            self.names = tuple(values.dictionary.to_pylist())
        else:
            _validity, offsets, data = arr.buffers()
            self.offsets = memoryview(np.frombuffer(offsets, np.int32, len(arr) + 1, arr.offset * 4))
            self.values, self.names = memoryview(data), None

    def __getitem__(self, p: int) -> str | list | None:
        if not self.valid[p]:
            return None
        v = self.values[self.offsets[p]:self.offsets[p + 1]]
        return str(v, "utf-8") if self.names is None else [self.names[c] for c in v.tolist()]


@dataclass(frozen=True)
class MovieIndex:
    """The LOADED form: a published index held in serving-process memory,
    the way Lucene holds its terms dictionary and postings. Every request
    is answered by numpy kernels over document positions, with no Spark
    job and no scan of every document.

    - ``ids`` — the movieId at each document position, ascending, as
      ``int64``;
    - ``columns`` — the published docs columns by name (``title``,
      ``release_date``, ``genres`` and the ``__title_norm`` phrase-probe
      string) as :class:`_Column` views over the loaded Arrow buffers; a
      document is decoded only when it is returned (:func:`_document`);
    - ``postings`` — ``(field, term)`` → the sorted ``int32`` positions
      of the documents holding the term; its keys are ``terms``, the
      terms dictionary;
    - ``genres`` — genre → the sorted ``int32`` positions of the
      documents listing it;
    - ``buckets`` — the terms dictionary sorted by length for fuzzy
      expansion, built by :func:`_term_buckets`;
    - ``docs`` — a Spark frame over exactly the docs files the load read,
      for offline inspection, or ``None``; no request touches it.

    At 25k movies (7.1k terms, 116k postings) the index holds 3.4 MB of
    Python heap (tracemalloc), most of it the terms dictionary and its
    postings; the document columns stay in Arrow memory. The structures
    are never mutated after the load, so concurrent request threads share
    them without locks, and the copy is its own point-in-time snapshot: a
    later rebuild or append of the index directory is invisible until the
    next load.
    """

    docs: object
    ids: np.ndarray
    columns: dict[str, _Column]
    postings: dict[tuple[str, str], np.ndarray]
    genres: dict[str, np.ndarray]
    buckets: TermBuckets

    @property
    def terms(self):
        """The terms dictionary: every ``(field, term)`` pair."""
        return self.postings.keys()


def _bincount(n: int, groups, weights=None) -> np.ndarray:
    """The scoring kernel of every flow: per document position, how many
    of the postings ``groups`` hold it, or the sum of their ``weights``."""
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


def _document(index: MovieIndex, p: int) -> dict:
    """The ``{movieId, title, release_date, genres}`` document at
    position ``p``, decoded from the columns."""
    c = index.columns
    return {"movieId": int(index.ids[p]), "title": c["title"][p],
            "release_date": c["release_date"][p], "genres": c["genres"][p]}


def _hits(index: MovieIndex, scores: np.ndarray, pos: np.ndarray) -> list[dict]:
    """The documents at ``pos`` with their score."""
    return [{**_document(index, p), "score": s} for p, s in zip(pos.tolist(), scores[pos].tolist())]


def _position(index: MovieIndex, movie_id: int) -> int | None:
    """The document position of ``movie_id``, or ``None``. A binary
    search in Python, as ``np.searchsorted`` would release the GIL to the
    other request threads for a one-key search."""
    p = bisect_left(index.ids, movie_id)
    return p if p < len(index.ids) and index.ids[p] == movie_id else None


def _without(index: MovieIndex, scores: np.ndarray, movie_id: int) -> np.ndarray:
    """``scores`` with the source movie's zeroed (the ``must_not`` self)."""
    p = _position(index, movie_id)
    if p is not None:
        scores[p] = 0
    return scores


def lookup_title(index: MovieIndex, title_query: str, size: int = 5) -> tuple[str, list[dict]]:
    """Phrase-match a title; returns (:func:`match_status`, hits).

    This is Lucene's phrase plan: the title postings of the phrase's
    tokens are intersected first, and only the surviving documents get
    the substring test on the stored ``__title_norm`` — exactly the
    normalized haystack the oracle's ``phrase_match`` builds per request.
    The hits are the first ``size`` documents in movieId order. An empty
    phrase has the one token ``""``, as Spark's ``split`` gives an empty
    title."""
    norm = normalize_phrase(title_query)
    needle = f" {norm} "
    lists = sorted((index.postings.get(("title", t), _NONE) for t in set(norm.split(" "))), key=len)
    pos = lists[0]
    for other in lists[1:]:
        pos = np.intersect1d(pos, other, assume_unique=True)
    title_norm = index.columns["__title_norm"]
    hits = [_document(index, p) for p in islice((p for p in pos.tolist() if needle in title_norm[p]), size)]
    return match_status(len(hits)), hits


def recommend_by_genre_overlap(index: MovieIndex, movie_id: int, genres: list[str], k: int = 5) -> list[dict]:
    """bool{must: terms(genres), must_not: term(movieId)} ranked by genre
    overlap size (deterministic stand-in for ES relevance): one
    :func:`_bincount` over the genre postings of the distinct query
    genres."""
    groups = [index.genres[g] for g in set(genres) if g in index.genres]
    scores = _without(index, _bincount(len(index.ids), groups), movie_id)
    return _hits(index, scores, _top(scores, k))


def recommend_by_title_keywords(index: MovieIndex, movie_id: int, title: str, k: int = 5,
                                min_len: int = 4) -> list[dict]:
    """Fallback when the source movie has no genres: any :func:`keywords`
    word matches (minimum_should_match=1), ranked by #matching words — one
    :func:`_bincount` over the title postings of the words; a repeated
    word counts once per occurrence."""
    groups = [index.postings[("title", w)] for w in keywords(title, min_len)
              if ("title", w) in index.postings]
    scores = _without(index, _bincount(len(index.ids), groups), movie_id)
    return _hits(index, scores, _top(scores, k))


def _search_scores(index: MovieIndex, query: str) -> np.ndarray:
    """The ``GET /search`` score of every document position.

    This is Lucene's fuzzy plan: each distinct query term expands once
    against the length-sorted terms dictionary (:func:`_expand`), and a
    doc scores boost × (#query-term occurrences fuzzily present in the
    field) — the oracle's semantics — through one :func:`_bincount`. The
    scores are sums of 3.0 and 1.0, exact in binary float, so they equal
    the oracle's 4-digit rounding."""
    groups, weights = [], []
    for qt, count in Counter(query_terms(query)).items():
        found: dict[str, list[np.ndarray]] = {}
        for key in _expand(index.buckets, qt, auto_fuzziness(qt)):
            found.setdefault(key[0], []).append(index.postings[key])
        for field, lists in found.items():
            groups.append(lists[0] if len(lists) == 1 else np.unique(np.concatenate(lists)))
            weights.append(SEARCH_FIELDS[field] * count)
    return _bincount(len(index.ids), groups, weights)


def search_page(index: MovieIndex, query: str, lo: int, size: int) -> tuple[list[dict], int]:
    """Hits ``lo`` to ``lo + size`` of a ``GET /search`` (title^3,
    genres^1, AUTO fuzziness), ranked (score desc, movieId asc), and the
    count of all hits."""
    scores = _search_scores(index, query)
    pos = _top(scores, lo + size)[lo:]
    return [_document(index, p) for p in pos.tolist()], int(np.count_nonzero(scores))


def movie_by_id(index: MovieIndex, movie_id: int) -> dict | None:
    """The document of ``movie_id``, or ``None``."""
    p = _position(index, movie_id)
    return None if p is None else _document(index, p)


def ping(index: MovieIndex) -> bool:
    """A loaded index is live by construction."""
    return True


def _grouped(keys: np.ndarray, pos: np.ndarray) -> tuple[list[int], list[np.ndarray]]:
    """The distinct ``keys`` and, for each, its distinct ``pos`` values as
    a sorted read-only ``int32`` array: one ``np.unique`` over
    ``key << 32 | pos`` sorts and deduplicates, and a split at each change
    of key groups, with no per-posting Python loop."""
    u = np.unique((keys.astype(np.int64) << 32) | pos)
    k = u >> 32
    vals = (u & 0xFFFFFFFF).astype(np.int32)
    vals.flags.writeable = False
    starts = np.flatnonzero(np.diff(k, prepend=-1))
    return k[starts].tolist(), np.split(vals, starts[1:])


def _index_arrays(docs, postings) -> dict:
    """Every :class:`MovieIndex` field but ``docs``, from the Arrow docs
    and postings tables. Documents take dense positions in movieId order
    (the first row of a repeated movieId wins, a row without one is
    dropped); a posting of an unknown movieId is dropped. The postings and
    genres are grouped by their dictionary codes (:func:`_grouped`)."""
    docs = docs.filter(docs["movieId"].is_valid()).sort_by("movieId")
    mids = docs["movieId"].to_numpy()
    first = np.ones(len(mids), bool)
    first[1:] = mids[1:] != mids[:-1]
    docs, ids = docs.filter(first), mids[first].astype(np.int64)
    columns = {name: _Column(docs[name].combine_chunks())
               for name in ("title", "release_date", "genres", "__title_norm")}
    pmids = postings["movieId"].to_numpy()
    pos = np.searchsorted(ids, pmids)
    known = pos < len(ids)
    known[known] = ids[pos[known]] == pmids[known]
    field, term = (postings[k].combine_chunks().dictionary_encode() for k in ("field", "term"))
    nt = len(term.dictionary)
    keys, lists = _grouped((field.indices.to_numpy().astype(np.int64) * nt + term.indices.to_numpy())[known],
                           pos[known])
    fields, terms = field.dictionary.to_pylist(), term.dictionary.to_pylist()
    postings = {(fields[k // nt], terms[k % nt]): v for k, v in zip(keys, lists)}
    g = columns["genres"]
    keys, lists = _grouped(np.asarray(g.values[g.offsets[0]:g.offsets[-1]]),
                           np.repeat(np.arange(len(ids)), np.diff(g.offsets)))
    return {
        "ids": ids,
        "columns": columns,
        "postings": postings,
        "genres": {g.names[k]: v for k, v in zip(keys, lists)},
        "buckets": _term_buckets(postings),
    }
