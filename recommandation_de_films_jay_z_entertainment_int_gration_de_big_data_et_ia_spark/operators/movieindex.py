"""The serving index, whole: its published format, the load that maps
it, and the reference API's flows over it, without Spark (numpy and
pyarrow only).

:func:`publish` turns the Arrow docs and postings tables that Spark wrote
into the serving tables (:func:`serving_tables`), one uncompressed Arrow
IPC file each (:data:`FILES`), each renamed over the old file once
written, so a process that mapped the old one keeps its snapshot:

- ``docs.arrow`` — the documents by position, movieIds ascending, so
  position order is the movieId tie-break, their genres
  dictionary-encoded;
- ``terms.arrow`` — the sorted terms dictionary both search fields share,
  with a ``list<int32>`` column of document positions per field;
- ``genres.arrow`` — the sorted genres and the positions listing each;
- ``variants.arrow`` — every term's deletion variants (FastSS: Bocek,
  Hunt and Stiller, 2007) by key, with the term's row in ``terms.arrow``.

:func:`load` maps them into a :class:`MovieIndex` of numpy and memoryview
views, with no sort, grouping or per-term object. Each flow takes only
that index and answers from process memory: :func:`lookup_title` and the
two recommend flows (``POST /recommend``, api.py:91-149),
:func:`search_page` (``GET /search``, api.py:197-221) and
:func:`movie_by_id` (``GET /movie/<id>``). Every flow is one ``bincount``
over the position lists of the query's terms or genres (:func:`_bincount`)
and one ``argpartition`` top-k (:func:`_top`); a term or a genre is found
by binary search in its sorted dictionary (:func:`_code`). The title
probe intersects the lists of the phrase's tokens before any substring
test. Fuzzy expansion (:func:`_expand`) probes the published variants
with the query term's own, one ``searchsorted``, and verifies each
candidate with the banded edit-distance check :func:`_lev_le`; no request
scans the terms dictionary. A document is decoded only for a returned
hit. All ranking is score desc, movieId asc.

The raw-frame oracle flows in :mod:`.movierec` import the rules both
backends share from here: the fuzziness bands, the boosts, the query
terms and the keywords.
"""

from __future__ import annotations

import os
import re
import zlib
from bisect import bisect_left
from collections import Counter
from dataclasses import dataclass
from itertools import islice

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

SEARCH_FIELDS: dict[str, float] = {"title": 3.0, "genres_text": 1.0}
FILES = ("docs", "terms", "genres", "variants")  # the published files, ``<name>.arrow``
_STAMP = "publish"  # the schema metadata key of a file's publish id
DOC_COLUMNS = ("title", "release_date", "genres", "__title_norm")
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


def variant_table(terms: list[str]) -> pa.Table:
    """The publish's rule: a ``(key, term, deletions)`` row for each of
    the :func:`deletion_variants` of each term of at most
    :data:`MAX_VARIANT_LEN` code points, ``term`` being the term's row in
    ``terms``, sorted by key."""
    rows = [(variant_key(v), c, k) for c, t in enumerate(terms) if len(t) <= MAX_VARIANT_LEN
            for v, k in deletion_variants(t).items()]
    key, term, deletions = zip(*rows) if rows else ((), (), ())
    return pa.table({"key": pa.array(key, pa.int64()), "term": pa.array(term, pa.int32()),
                     "deletions": pa.array(deletions, pa.int8())}).sort_by("key")


def _lists(codes: np.ndarray, pos: np.ndarray, n: int) -> pa.ListArray:
    """For each code ``0..n-1``, the sorted distinct ``pos`` paired with
    it, as a ``list<int32>`` column: one ``np.unique`` over
    ``code << 32 | pos`` sorts and deduplicates them."""
    u = np.unique((codes.astype(np.int64) << 32) | pos)
    offsets = np.searchsorted(u >> 32, np.arange(n + 1)).astype(np.int32)
    return pa.ListArray.from_arrays(offsets, (u & 0xFFFFFFFF).astype(np.int32))


def _dictionary(words) -> tuple[pa.Array, np.ndarray]:
    """The sorted distinct ``words`` and the row of each word in them."""
    keys = pc.unique(words).sort()
    return keys, _numpy(pc.index_in(words, value_set=keys), np.int32)


def _numpy(arr, dtype) -> np.ndarray:
    """The values of ``arr`` (an Array or ChunkedArray without nulls) as a
    ``dtype`` numpy view, through :func:`_view`."""
    arr = pc.cast(arr, pa.from_numpy_dtype(dtype))
    return _view(arr.combine_chunks() if isinstance(arr, pa.ChunkedArray) else arr, dtype, 0)


def serving_tables(docs: pa.Table, postings: pa.Table) -> dict[str, pa.Table]:
    """The published tables (:data:`FILES`) of the Arrow ``docs`` (movieId
    and :data:`DOC_COLUMNS`) and ``postings`` (``field``, ``term``,
    movieId) tables. Documents take dense positions in movieId order: the
    first row of a repeated movieId wins and a row without one is dropped;
    a posting of an unknown movieId and a null genre are dropped."""
    docs = docs.filter(docs["movieId"].is_valid()).sort_by("movieId")
    mids = _numpy(docs["movieId"], np.int64)
    first = np.ones(len(mids), bool)
    first[1:] = mids[1:] != mids[:-1]
    ids = mids[first]
    docs = docs.filter(first).select(list(DOC_COLUMNS)).add_column(0, "movieId", pa.array(ids))
    postings = postings.filter(postings["movieId"].is_valid())
    pmids = _numpy(postings["movieId"], np.int64)
    pos = np.searchsorted(ids, pmids)
    known = pos < len(ids)
    known[known] = ids[pos[known]] == pmids[known]
    postings, pos = postings.filter(known), pos[known]
    terms, codes = _dictionary(postings["term"])
    field = _numpy(pc.fill_null(pc.index_in(postings["field"], value_set=pa.array(list(SEARCH_FIELDS))), -1),
                   np.int32)
    fields = {f: field == i for i, f in enumerate(SEARCH_FIELDS)}
    genres = docs["genres"].combine_chunks()
    flat = pc.list_flatten(genres)
    named = flat.is_valid()
    names, gcodes = _dictionary(flat.filter(named))
    return {
        # a document's genres as codes into their (null-including) dictionary
        "docs": docs.set_column(docs.schema.get_field_index("genres"), "genres", pa.ListArray.from_arrays(
            genres.offsets, pc.dictionary_encode(genres.values, null_encoding="encode"), mask=genres.is_null())),
        "terms": pa.table({"term": terms, **{f: _lists(codes[m], pos[m], len(terms)) for f, m in fields.items()}}),
        "genres": pa.table({"genre": names, "docs": _lists(
            gcodes, _numpy(pc.list_parent_indices(genres).filter(named), np.int64), len(names))}),
        "variants": variant_table(terms.to_pylist()),
    }


def _path(index_dir: str, name: str) -> str:
    return os.path.join(index_dir, f"{name}.arrow")


def publish(docs: pa.Table, postings: pa.Table, index_dir: str) -> None:
    """Write the :func:`serving_tables` of ``docs`` and ``postings`` into
    ``index_dir`` as uncompressed Arrow IPC files of one record batch
    each, stamped with one publish id. Each file is written under a
    temporary name and renamed over the old one: a process that mapped the
    old file keeps its snapshot, and a load after the publish sees the new
    file."""
    os.makedirs(index_dir, exist_ok=True)
    stamp = {_STAMP: os.urandom(8).hex()}
    for name, table in serving_tables(docs, postings).items():
        path = _path(index_dir, name)
        table = table.combine_chunks().replace_schema_metadata(stamp)
        with pa.OSFile(f"{path}.tmp", "wb") as sink, pa.ipc.new_file(sink, table.schema) as writer:
            writer.write_table(table)
        os.replace(f"{path}.tmp", path)


def _view(arr: pa.Array, dtype, extra: int) -> np.ndarray:
    """``len(arr) + extra`` values (1 extra for offsets) of the buffer after ``arr``'s
    validity, from its offset, as a numpy view (``Array.to_numpy`` imports pandas)."""
    dtype = np.dtype(dtype)
    return np.frombuffer(arr.buffers()[1] or b"", dtype, len(arr) + extra, arr.offset * dtype.itemsize)


def _valid(arr: pa.Array) -> memoryview:
    """The validity of each value of ``arr``: its bitmap, or a zero-stride ``True``."""
    bitmap = arr.buffers()[0]
    if bitmap is None:
        return memoryview(np.broadcast_to(True, len(arr)))
    bits = np.unpackbits(np.frombuffer(bitmap, np.uint8), bitorder="little")
    return memoryview(bits[arr.offset:arr.offset + len(arr)].view(bool))


class _Column:
    """A zero-copy view of a loaded Arrow string column: its offsets, its
    UTF-8 data buffer and its validity, as memoryviews, whose reads give
    Python objects without numpy scalars. A value is decoded when its
    position is read; a null reads ``None``."""

    __slots__ = ("offsets", "data", "valid")

    def __init__(self, arr):
        self.valid = _valid(arr)
        self.offsets = memoryview(_view(arr, np.int32, 1))
        self.data = memoryview(arr.buffers()[2] or b"")

    def __len__(self) -> int:
        return len(self.offsets) - 1

    def __getitem__(self, p: int) -> str | None:
        return str(self.data[self.offsets[p]:self.offsets[p + 1]], "utf-8") if self.valid[p] else None


class _ListColumn(_Column):
    """A :class:`_Column` of a ``list<dictionary<string>>`` column: its
    ``data`` are the list values' dictionary codes, ``names`` the
    dictionary; a value reads as a list."""

    __slots__ = ("names",)

    def __init__(self, arr):
        self.valid = _valid(arr)
        self.offsets, self.data = memoryview(_view(arr, np.int32, 1)), memoryview(_view(arr.values.indices, np.int32, 0))
        self.names = tuple(arr.values.dictionary.to_pylist())

    def __getitem__(self, p: int) -> list | None:
        return [self.names[c] for c in self.data[self.offsets[p]:self.offsets[p + 1]]] if self.valid[p] else None


def _code(words: _Column, word: str) -> int | None:
    """The row of ``word`` in the sorted dictionary ``words``, or
    ``None``: a binary search that decodes about ``log2(len(words))``
    entries. Arrow sorts strings by their UTF-8 bytes, which is the code
    point order Python compares by."""
    c = bisect_left(words, word)
    return c if c < len(words) and words[c] == word else None


class _Lists:
    """A zero-copy view of a loaded ``list<int32>`` column of sorted
    document positions: list ``c`` is ``values[offsets[c]:offsets[c + 1]]``,
    a read-only numpy view (``offsets`` is a memoryview)."""

    __slots__ = ("offsets", "values")

    def __init__(self, arr):
        self.offsets, self.values = memoryview(_view(arr, np.int32, 1)), _view(arr.values, np.int32, 0)

    def __getitem__(self, c: int) -> np.ndarray:
        return self.values[self.offsets[c]:self.offsets[c + 1]]

    def union(self, codes: list[int]) -> np.ndarray:
        """The sorted distinct positions of the lists ``codes``."""
        lists = [hits for c in codes if len(hits := self[c])]
        return lists[0] if len(lists) == 1 else np.unique(np.concatenate([_NONE, *lists]))


@dataclass(frozen=True)
class Variants:
    """The deletion variants (FastSS) of the terms dictionary ``words``,
    as zero-copy views of the loaded variant table: ``keys``
    (:func:`variant_key`, ascending, ``int64``), ``codes`` (each variant's
    term as its ``int32`` row in ``words``) and ``deletions`` (``int8``);
    ``long``, the rows of the terms of more than :data:`MAX_VARIANT_LEN`
    UTF-8 bytes, which hold every term too long to have variants; and
    ``longest``, the length of the longest term with variants, or -1."""

    keys: np.ndarray
    codes: np.ndarray
    deletions: np.ndarray
    words: _Column
    long: np.ndarray
    longest: int


def _expand(variants: Variants, qt: str, d: int) -> list[int]:
    """The rows in ``variants.words`` of the terms within ``d`` edits of
    ``qt``, ascending — exactly the terms :func:`_lev_le` accepts. A term
    within ``d`` edits of ``qt`` shares a string with it that each reaches
    by at most ``d`` deletions, so the candidates are the terms with a
    variant of at most ``d`` deletions keyed as one of ``qt``'s own
    variants (one ``searchsorted``), plus the long terms, and
    :func:`_lev_le` verifies each once. A query term more than ``d``
    longer than every term with variants generates none."""
    if d > MAX_DELETIONS:
        raise ValueError(f"fuzziness {d}: the variant table holds at most {MAX_DELETIONS} deletions")
    codes = variants.long
    if len(qt) - d <= variants.longest:
        q = np.fromiter(map(variant_key, deletion_variants(qt, d)), np.int64)
        lo, hi = np.split(np.searchsorted(variants.keys, np.concatenate([q, q + 1])), 2)
        n = hi - lo
        rows = np.repeat(lo - np.cumsum(n) + n, n) + np.arange(n.sum())
        codes = np.concatenate([codes, variants.codes[rows[variants.deletions[rows] <= d]]])
    return [c for c in np.unique(codes).tolist() if _lev_le(variants.words[c], qt, d)]


@dataclass(frozen=True)
class MovieIndex:
    """The LOADED form: a published index mapped into serving-process
    memory, the way Lucene maps its segment files. Every request is
    answered by numpy kernels over document positions, with no Spark job
    and no scan of every document.

    - ``ids`` — the movieId at each document position, ascending, as
      ``int64``;
    - ``columns`` — the documents' :data:`DOC_COLUMNS` (``__title_norm``
      is the phrase-probe string) as :class:`_Column` views; a document is
      decoded only when it is returned (:func:`_document`);
    - ``words`` — the sorted terms dictionary of both search fields;
    - ``fields`` — per search field, the positions of the documents
      holding each term of ``words`` (:class:`_Lists`, by term row);
    - ``genre_names`` and ``genres`` — the sorted genres and the
      positions of the documents listing each;
    - ``variants`` — the published deletion variants of ``words``, which
      fuzzy expansion probes (:class:`Variants`);
    - ``docs`` — a Spark frame over the docs files Spark published, for
      offline inspection, or ``None``; no request touches it.

    Every array is a view of the mapped files, which the structures never
    mutate, so concurrent request threads share them without locks; the
    index is its own point-in-time snapshot, as a republish renames new
    files over the ones it mapped.
    """

    docs: object
    ids: np.ndarray
    columns: dict[str, _Column]
    words: _Column
    fields: dict[str, _Lists]
    genre_names: _Column
    genres: _Lists
    variants: Variants

    @property
    def terms(self) -> list[tuple[str, str]]:
        """Every ``(field, term)`` pair with a posting, decoded at each
        read; no flow reads it."""
        return [(field, self.words[c]) for field, lists in self.fields.items()
                for c in np.flatnonzero(np.diff(lists.offsets)).tolist()]


def _loaded(tables: dict[str, pa.Table]) -> MovieIndex:
    """The :class:`MovieIndex` of the published tables (:data:`FILES`)."""
    def col(name: str, column: str) -> pa.Array:
        c = tables[name][column]  # a published file's one record batch, not copied
        return c.chunk(0) if c.num_chunks == 1 else c.combine_chunks()

    words = _Column(col("terms", "term"))
    keys = _view(col("variants", "key"), np.int64, 0)
    return MovieIndex(
        docs=None,
        ids=_view(col("docs", "movieId"), np.int64, 0),
        columns={c: (_ListColumn if c == "genres" else _Column)(col("docs", c)) for c in DOC_COLUMNS},
        words=words,
        fields={f: _Lists(col("terms", f)) for f in SEARCH_FIELDS},
        genre_names=_Column(col("genres", "genre")),
        genres=_Lists(col("genres", "docs")),
        variants=Variants(
            keys=keys, codes=_view(col("variants", "term"), np.int32, 0),
            deletions=_view(col("variants", "deletions"), np.int8, 0),
            words=words, long=np.flatnonzero(np.diff(words.offsets) > MAX_VARIANT_LEN),
            longest=int(keys[-1] >> 32) if len(keys) else -1),
    )


def load(index_dir: str) -> MovieIndex:
    """Map the index that :func:`publish` wrote into ``index_dir``. A
    missing file raises ``FileNotFoundError`` naming it, and files of two
    publishes (a load between the renames of one) raise ``RuntimeError``.
    At 25k movies a warm load takes about 1 ms and 18 KB of Python
    heap (tracemalloc)."""
    tables = {name: pa.ipc.open_file(pa.memory_map(_path(index_dir, name))).read_all() for name in FILES}
    if len({t.schema.metadata[_STAMP.encode()] for t in tables.values()}) > 1:
        raise RuntimeError(f"{index_dir} holds the files of two publishes: one is under way, load again")
    return _loaded(tables)


def _bincount(n: int, groups, weights=None) -> np.ndarray:
    """The scoring kernel of every flow: per document position, how many
    of the position lists ``groups`` hold it, or the sum of their
    ``weights``."""
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

    This is Lucene's phrase plan: the title position lists of the
    phrase's tokens are intersected first, and only the surviving documents get
    the substring test on the stored ``__title_norm`` — exactly the
    normalized haystack the oracle's ``phrase_match`` builds per request.
    The hits are the first ``size`` documents in movieId order. An empty
    phrase has the one token ``""``, as Spark's ``split`` gives an empty
    title."""
    norm = normalize_phrase(title_query)
    needle = f" {norm} "
    title = index.fields["title"]
    lists = sorted((_NONE if (c := _code(index.words, t)) is None else title[c] for t in set(norm.split(" "))),
                   key=len)
    pos = lists[0]
    for other in lists[1:]:
        pos = np.intersect1d(pos, other, assume_unique=True)
    title_norm = index.columns["__title_norm"]
    hits = [_document(index, p) for p in islice((p for p in pos.tolist() if needle in title_norm[p]), size)]
    return match_status(len(hits)), hits


def recommend_by_genre_overlap(index: MovieIndex, movie_id: int, genres: list[str], k: int = 5) -> list[dict]:
    """bool{must: terms(genres), must_not: term(movieId)} ranked by genre
    overlap size (deterministic stand-in for ES relevance): one
    :func:`_bincount` over the position lists of the distinct query
    genres."""
    groups = [index.genres[c] for g in set(genres) if (c := _code(index.genre_names, g)) is not None]
    scores = _without(index, _bincount(len(index.ids), groups), movie_id)
    return _hits(index, scores, _top(scores, k)[0])


def recommend_by_title_keywords(index: MovieIndex, movie_id: int, title: str, k: int = 5,
                                min_len: int = 4) -> list[dict]:
    """Fallback when the source movie has no genres: any :func:`keywords`
    word matches (minimum_should_match=1), ranked by #matching words — one
    :func:`_bincount` over the title position lists of the words; a
    repeated word counts once per occurrence."""
    postings = index.fields["title"]
    groups = [postings[c] for w in keywords(title, min_len) if (c := _code(index.words, w)) is not None]
    scores = _without(index, _bincount(len(index.ids), groups), movie_id)
    return _hits(index, scores, _top(scores, k)[0])


def _search_scores(index: MovieIndex, query: str) -> np.ndarray:
    """The ``GET /search`` score of every document position.

    This is Lucene's fuzzy plan: each distinct query term expands once
    against the terms dictionary's deletion variants (:func:`_expand`),
    each field's position lists of the expanded terms are sliced by term
    row, and a doc scores boost × (#query-term occurrences fuzzily present
    in the field) — the oracle's semantics — through one
    :func:`_bincount`. The
    scores are sums of 3.0 and 1.0, exact in binary float, so they equal
    the oracle's 4-digit rounding."""
    groups, weights = [], []
    for qt, count in Counter(query_terms(query)).items():
        codes = _expand(index.variants, qt, auto_fuzziness(qt))
        for field, boost in SEARCH_FIELDS.items():
            if len(hits := index.fields[field].union(codes)):
                groups.append(hits)
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
