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
substring test. Fuzzy expansion probes the deletion variants that the
publish wrote for every term (:class:`Variants`, FastSS: Bocek, Hunt and
Stiller, 2007) with the query term's own variants, one ``searchsorted``,
and verifies each candidate with the banded edit-distance check
:func:`_lev_le` (:func:`_expand`); no request scans the terms
dictionary. All ranking is score desc, movieId asc.

The raw-frame oracle flows in :mod:`.movierec` import the rules both
backends share from here: the fuzziness bands, the boosts, the query
terms and the keywords.
"""

from __future__ import annotations

import re
import zlib
from bisect import bisect_left
from collections import Counter
from collections.abc import Iterable
from dataclasses import dataclass
from itertools import islice

import numpy as np
import pyarrow as pa

SEARCH_FIELDS: dict[str, float] = {"title": 3.0, "genres_text": 1.0}
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


def _lev_le(a: str, b: str, d: int) -> bool:
    """``levenshtein(a, b) <= d`` matching Spark's built-in exactly
    (unit-cost edit distance over code points): the verifier of
    :func:`_expand`. Each row holds only the band ``|i - j| <= d`` of the
    table, as a dict by column; a cell outside it exceeds ``d`` and reads
    ``d + 1``. A row whose band all exceeds ``d`` ends the scan, so a
    check costs ``O(len(a) * d)``."""
    if abs(len(a) - len(b)) > d:
        return False
    if a == b:
        return True
    far = d + 1
    prev = {j: j for j in range(min(d, len(b)) + 1)}
    for i, ca in enumerate(a, 1):
        cur = {0: i} if i <= d else {}
        for j in range(max(1, i - d), min(len(b), i + d) + 1):
            cur[j] = min(prev.get(j, far) + 1, cur.get(j - 1, far) + 1, prev.get(j - 1, far) + (ca != b[j - 1]))
        if min(cur.values(), default=far) > d:
            return False
        prev = cur
    return prev.get(len(b), far) <= d


MAX_DELETIONS = 2  # the variant table serves fuzziness 0..2, AUTO's bands
MAX_VARIANT_LEN = 64  # a longer term publishes no variants


def variant_key(v: str) -> int:
    """The published key of a deletion variant: its length over the CRC-32
    of its UTF-8 (lone surrogates passed through). Two variants sharing a
    key only add a candidate, which :func:`_lev_le` then drops."""
    return (len(v) << 32) | zlib.crc32(v.encode("utf-8", "surrogatepass"))


def deletion_variants(term: str, d: int = MAX_DELETIONS) -> dict[str, int]:
    """Every string made from ``term`` by deleting at most ``d`` of its
    characters, with the fewest deletions that make it."""
    found, level = {term: 0}, {term}
    for k in range(1, d + 1):
        level = {v[:i] + v[i + 1:] for v in level for i in range(len(v))}.difference(found)
        found.update(dict.fromkeys(level, k))
    return found


def variant_table(terms: Iterable[str]) -> pa.Table:
    """The publish's rule: a ``(key, term, deletions)`` row for each of
    the :func:`deletion_variants` of each term of at most
    :data:`MAX_VARIANT_LEN` code points, sorted by key."""
    rows = [(variant_key(v), t, k) for t in terms if len(t) <= MAX_VARIANT_LEN
            for v, k in deletion_variants(t).items()]
    key, term, deletions = zip(*rows) if rows else ((), (), ())
    return pa.table({"key": pa.array(key, pa.int64()), "term": pa.array(term, pa.string()),
                     "deletions": pa.array(deletions, pa.int8())}).sort_by("key")


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
class Variants:
    """The terms dictionary's deletion variants (FastSS), as zero-copy
    views of the loaded variant table: ``keys`` (:func:`variant_key`,
    ascending, ``int64``), ``codes`` (each variant's term, ``int32``
    codes into ``words``, the distinct terms as a :class:`_Column`) and
    ``deletions`` (``int8``); ``long``, the terms longer than
    :data:`MAX_VARIANT_LEN`, which have none; and ``longest``, the
    length of the longest term with variants, or -1."""

    keys: np.ndarray
    codes: np.ndarray
    deletions: np.ndarray
    words: _Column
    long: tuple[str, ...]
    longest: int


def _variants(table: pa.Table, terms: list[str]) -> Variants:
    """:class:`Variants` over a ``(key, term, deletions)`` variant table
    sorted by key, and ``terms``, the postings' terms dictionary."""
    keys = table["key"].combine_chunks().to_numpy()
    if np.any(keys[1:] < keys[:-1]):
        raise ValueError("the variant table is not sorted by key")
    term = table["term"].combine_chunks().dictionary_encode()
    return Variants(
        keys=keys, codes=term.indices.to_numpy(), deletions=table["deletions"].combine_chunks().to_numpy(),
        words=_Column(term.dictionary),
        long=tuple(t for t in terms if len(t) > MAX_VARIANT_LEN),
        longest=int(keys[-1] >> 32) if len(keys) else -1,
    )


def _expand(variants: Variants, qt: str, d: int) -> list[str]:
    """The terms within ``d`` edits of ``qt``, each once — exactly the
    terms :func:`_lev_le` accepts. A term within ``d`` edits of ``qt``
    shares a string with it that each reaches by at most ``d`` deletions,
    so the candidates are the terms with a variant of at most ``d``
    deletions keyed as one of ``qt``'s own variants (one ``searchsorted``),
    and :func:`_lev_le` verifies each. The long terms are verified
    directly; a query term more than ``d`` longer than every term with
    variants generates none."""
    if d > MAX_DELETIONS:
        raise ValueError(f"fuzziness {d}: the variant table holds at most {MAX_DELETIONS} deletions")
    hits = [t for t in variants.long if _lev_le(t, qt, d)]
    if len(qt) - d > variants.longest:
        return hits
    q = np.fromiter(map(variant_key, deletion_variants(qt, d)), np.int64)
    lo, hi = np.split(np.searchsorted(variants.keys, np.concatenate([q, q + 1])), 2)
    n = hi - lo
    rows = np.repeat(lo - np.cumsum(n) + n, n) + np.arange(n.sum())
    codes = np.unique(variants.codes[rows[variants.deletions[rows] <= d]])
    return hits + [t for t in map(variants.words.__getitem__, codes.tolist()) if _lev_le(t, qt, d)]


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
    - ``variants`` — the terms dictionary's published deletion variants,
      which fuzzy expansion probes (:class:`Variants`);
    - ``docs`` — a Spark frame over exactly the docs files the load read,
      for offline inspection, or ``None``; no request touches it.

    At 25k movies (7.1k terms, 116k postings, 161k variants) the index
    holds 2.7 MB of Python heap (tracemalloc), most of it the terms
    dictionary and its postings; the document columns and the variant
    arrays stay in Arrow memory. The structures
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
    variants: Variants

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


def _top(scores: np.ndarray, k: int) -> tuple[np.ndarray, int]:
    """The positions of the ``k`` highest nonzero ``scores``, ranked
    score desc, position (so movieId) asc, without sorting every hit:
    ``argpartition`` finds the k-th score, every higher score is kept,
    and the ties at it are taken in position order. Also the count of
    nonzero scores."""
    hit = np.flatnonzero(scores)
    total = len(hit)
    if k <= 0:
        return _NONE, total
    s = scores[hit]
    if k < len(hit):
        kth = s[np.argpartition(-s, k - 1)[k - 1]]
        above = np.flatnonzero(s > kth)
        ties = np.flatnonzero(s == kth)[: k - len(above)]
        keep = np.concatenate([above, ties])
        hit, s = hit[keep], s[keep]
    return hit[np.lexsort((hit, -s))], total


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
    return _hits(index, scores, _top(scores, k)[0])


def recommend_by_title_keywords(index: MovieIndex, movie_id: int, title: str, k: int = 5,
                                min_len: int = 4) -> list[dict]:
    """Fallback when the source movie has no genres: any :func:`keywords`
    word matches (minimum_should_match=1), ranked by #matching words — one
    :func:`_bincount` over the title postings of the words; a repeated
    word counts once per occurrence."""
    groups = [index.postings[("title", w)] for w in keywords(title, min_len)
              if ("title", w) in index.postings]
    scores = _without(index, _bincount(len(index.ids), groups), movie_id)
    return _hits(index, scores, _top(scores, k)[0])


def _search_scores(index: MovieIndex, query: str) -> np.ndarray:
    """The ``GET /search`` score of every document position.

    This is Lucene's fuzzy plan: each distinct query term expands once
    against the terms dictionary's deletion variants (:func:`_expand`),
    and a doc scores boost × (#query-term occurrences fuzzily present in the
    field) — the oracle's semantics — through one :func:`_bincount`. The
    scores are sums of 3.0 and 1.0, exact in binary float, so they equal
    the oracle's 4-digit rounding."""
    groups, weights = [], []
    for qt, count in Counter(query_terms(query)).items():
        terms = _expand(index.variants, qt, auto_fuzziness(qt))
        for field, boost in SEARCH_FIELDS.items():
            lists = [p for t in terms if (p := index.postings.get((field, t))) is not None]
            if lists:
                groups.append(lists[0] if len(lists) == 1 else np.unique(np.concatenate(lists)))
                weights.append(boost * count)
    return _bincount(len(index.ids), groups, weights)


def search_page(index: MovieIndex, query: str, lo: int, size: int) -> tuple[list[dict], int]:
    """Hits ``lo`` to ``lo + size`` of a ``GET /search`` (title^3,
    genres^1, AUTO fuzziness), ranked (score desc, movieId asc), and the
    count of all hits."""
    pos, total = _top(_search_scores(index, query), lo + size)
    return [_document(index, p) for p in pos[lo:].tolist()], total


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


def _index_arrays(docs, postings, variants=None) -> dict:
    """Every :class:`MovieIndex` field but ``docs``, from the Arrow docs,
    postings and variant tables. Documents take dense positions in movieId
    order (the first row of a repeated movieId wins, a row without one is
    dropped); a posting of an unknown movieId is dropped. The postings and
    genres are grouped by their dictionary codes (:func:`_grouped`). An
    index assembled without Spark passes no ``variants``, and gets the
    :func:`variant_table` of its postings' terms, the publish's rule."""
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
        "variants": _variants(variant_table(terms) if variants is None else variants, terms),
    }
