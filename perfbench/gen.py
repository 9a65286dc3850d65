"""Seeded input generator for the benchmark.

Every input the engine sees is written here from ``--seed``; the same seed
and sizes give byte-identical files. Each ``write_*`` function returns the
ground truth its workload's output checks compare against.

- ``write_movielens``: ``u.item`` (24 pipe-separated fields, latin-1) and
  ``u.data`` (tab-separated ``userId movieId rating timestamp``) in the
  MovieLens-100K formats the reference pipeline reads.
- ``serve_requests``: the ``serve`` request stream over that catalog.
- ``write_corpus``: the curation corpus (parquet ``doc_id, text``) and a
  64-d embedding per doc, with planted exact and near duplicates.
- ``write_star``: the catalog's star-schema tables plus ``events`` and
  ``documents``, in the column layout the query catalog reads.
"""

from __future__ import annotations

import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Genre flag columns of u.item, in file order (sources.readers.GENRES_100K).
GENRES = (
    "unknown", "Action", "Adventure", "Animation", "Childrens", "Comedy",
    "Crime", "Documentary", "Drama", "Fantasy", "FilmNoir", "Horror",
    "Musical", "Mystery", "Romance", "SciFi", "Thriller", "War", "Western",
)
_MONTHS = ("Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")
_LETTERS = "abcdefghijklmnopqrstuvwxyz"


def _words(rng: np.random.Generator, n: int, lo: int = 3, hi: int = 9) -> list[str]:
    """``n`` distinct lowercase pseudo-words."""
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        k = int(rng.integers(lo, hi + 1))
        w = "".join(_LETTERS[i] for i in rng.integers(0, 26, size=k))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def _zipf_probs(n: int, s: float = 1.1) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


def norm_title(s: str) -> str:
    """The phrase-probe normalization of ``movierec.lookup_title``."""
    return re.sub(r"[^a-z0-9]+", " ", s.lower()).strip()


# --------------------------------------------------------------------------
# MovieLens
# --------------------------------------------------------------------------

def write_movielens(out_dir: str, seed: int, n_movies: int, n_users: int = 0,
                    ratings_per_user: tuple[int, int] = (20, 60)) -> dict:
    """Write ``u.item`` (and ``u.data`` when ``n_users`` > 0).

    Titles are 1-3 words from a Zipf-popular vocabulary plus the year, so
    short titles recur inside longer ones (ambiguous lookups) and common
    words match many movies (wide searches). About 6% of movies carry no
    genre (the keyword-fallback path of ``/recommend``) and about 3% have
    an empty release date.
    """
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    vocab = _words(rng, max(400, n_movies // 3))
    word_ix = rng.choice(len(vocab), size=(n_movies, 3), p=_zipf_probs(len(vocab), 0.9))
    n_words = rng.choice([1, 2, 3], size=n_movies, p=[0.25, 0.45, 0.30])
    years = rng.integers(1930, 2000, n_movies)
    n_genres = np.where(rng.random(n_movies) < 0.06, 0,
                        rng.choice([1, 2, 3], size=n_movies, p=[0.5, 0.35, 0.15]))
    genre_ix = np.argsort(rng.random((n_movies, len(GENRES) - 1)), axis=1)
    no_date = rng.random(n_movies) < 0.03
    days, months = rng.integers(1, 29, n_movies), rng.integers(0, 12, n_movies)
    movies = []
    for i in range(n_movies):
        title = " ".join(vocab[w].capitalize() for w in word_ix[i, :n_words[i]]) + f" ({years[i]})"
        genres = sorted(GENRES[1 + g] for g in genre_ix[i, :n_genres[i]])
        date = "" if no_date[i] else f"{days[i]:02d}-{_MONTHS[months[i]]}-{years[i]}"
        movies.append((i + 1, title, date, genres))
    with open(os.path.join(out_dir, "u.item"), "w", encoding="latin-1", newline="\n") as fh:
        for mid, title, date, genres in movies:
            flags = ["1" if (g in genres or (g == "unknown" and not genres)) else "0" for g in GENRES]
            url = f"http://example.org/title/{mid}"
            fh.write("|".join([str(mid), title, date, "", url, *flags]) + "\n")
    truth = {"movies": movies, "n_ratings": 0, "users": []}
    if n_users:
        truth.update(_write_ratings(out_dir, rng, n_movies, n_users, ratings_per_user))
    return truth


def _write_ratings(out_dir: str, rng: np.random.Generator, n_movies: int, n_users: int,
                   per_user: tuple[int, int]) -> dict:
    item_p = _zipf_probs(n_movies, 0.8)
    lines: list[str] = []
    t0 = 874_724_710
    for uid in range(1, n_users + 1):
        k = int(rng.integers(per_user[0], per_user[1] + 1))
        items = np.sort(rng.choice(n_movies, size=k, replace=False, p=item_p)) + 1
        ratings = rng.integers(1, 6, size=k)
        ts = t0 + rng.integers(0, 18_000_000, size=k)
        lines.extend(f"{uid}\t{m}\t{r}\t{t}" for m, r, t in zip(items, ratings, ts))
    with open(os.path.join(out_dir, "u.data"), "w", encoding="ascii", newline="\n") as fh:
        fh.write("\n".join(lines) + "\n")
    return {"n_ratings": len(lines), "users": list(range(1, n_users + 1))}


def serve_requests(truth: dict, seed: int, n: int) -> tuple[list[tuple], dict]:
    """The ``serve`` request stream: ``n`` requests as
    ``(endpoint, method, path, query_args, json_body, expect)``.

    ``expect`` is the generator's ground truth for the reply. Returns the
    stream and its properties (repeat rate, typo and no-match shares).
    """
    rng = np.random.default_rng([seed, 2])
    movies = truth["movies"]
    # every contiguous token run of every normalized title -> movie ids:
    # the exact answer set of lookup_title's " phrase " substring probe
    runs: dict[str, set[int]] = {}
    for mid, title, _d, _g in movies:
        toks = norm_title(title).split()
        for i in range(len(toks)):
            for j in range(i + 1, len(toks) + 1):
                runs.setdefault(" ".join(toks[i:j]), set()).add(mid)
    tcount = {w: len(runs[w]) for w in {w for k in runs for w in k.split()} if not w.isdigit()}
    tv = sorted(tcount, key=lambda w: (-tcount[w], w))
    term_p = _zipf_probs(len(tv), 1.0)

    def phrase_hits(phrase: str) -> set[int]:
        return runs.get(norm_title(phrase), set())

    def typo(w: str) -> str:
        i = int(rng.integers(0, len(w)))
        op = int(rng.integers(0, 3))
        c = _LETTERS[int(rng.integers(0, 26))]
        if op == 0 or len(w) <= 4:
            return w[:i] + c + w[i + 1:]
        if op == 1:
            return w[:i] + w[i + 1:]
        return w[:i] + c + w[i:]

    # /recommend titles: unique (full title), ambiguous (a common word
    # shared by many titles), genre-less unique, and unknown titles.
    unique = [(t, mid) for mid, t, _d, g in movies if g and len(phrase_hits(t)) == 1]
    genreless = [(t, mid) for mid, t, _d, g in movies if not g and len(phrase_hits(t)) == 1]
    ambiguous = [w for w in tv[:200] if len(phrase_hits(w)) > 1]
    n_movies = len(movies)

    def recommend_req(kind: str):
        if kind == "unique":
            t, mid = unique[int(rng.integers(0, len(unique)))]
            return t, {"status": 200, "movieId": mid}
        if kind == "genreless":
            t, mid = genreless[int(rng.integers(0, len(genreless)))]
            return t, {"status": 200, "movieId": mid, "genreless": True}
        if kind == "ambiguous":
            return ambiguous[int(rng.integers(0, len(ambiguous)))].capitalize(), {"status": 200, "ambiguous": True}
        return "Zzqx " + "".join(_LETTERS[i] for i in rng.integers(0, 26, 10)), {"status": 404}

    def search_req(n_terms: int, typoed: bool, page: int):
        if n_terms == 0:
            q = " ".join("qx" + "".join(_LETTERS[i] for i in rng.integers(0, 26, 8)) for _ in range(2))
            return q, page, {"status": 200, "total": 0}
        words = [tv[i] for i in rng.choice(len(tv), size=n_terms, p=term_p)]
        if typoed:
            j = int(rng.integers(0, n_terms))
            words[j] = typo(typo(words[j]) if (len(words[j]) > 6 and rng.random() < 0.3) else words[j])
        return " ".join(words), page, {"status": 200}

    # Each block of 20 holds the same request kinds in a new order, so every
    # run's whole blocks cost alike: 10 searches (one matching nothing; of
    # the rest 5/3/1 with 1/2/3 terms, 3 with typos; pages 7x1, 2x2, 1x3),
    # 6 recommends (3 unique, 1 genre-less, 1 ambiguous, 1 unknown title),
    # 3 movie lookups (5% unknown ids) and 1 health probe.
    stream: list[tuple] = []
    while len(stream) < n:
        terms = [0] + list(rng.permutation([1, 1, 1, 1, 1, 2, 2, 2, 3]))
        typos = [False] + list(rng.permutation([True] * 3 + [False] * 6))
        pages = [1] + list(rng.permutation([1] * 6 + [2] * 2 + [3]))
        searches = [search_req(int(k), bool(t), int(p)) for k, t, p in zip(terms, typos, pages)]
        recs = [recommend_req(k) for k in ("unique", "unique", "unique", "genreless", "ambiguous", "unknown")]
        block = ([("search", i) for i in range(10)] + [("recommend", i) for i in range(6)]
                 + [("movie", i) for i in range(3)] + [("health", 0)])
        for j in rng.permutation(len(block)):
            ep, i = block[j]
            if ep == "search":
                q, page, exp = searches[i]
                stream.append(("search", "GET", "/search", {"q": q, "page": str(page), "size": "10"}, None, exp))
            elif ep == "recommend":
                t, exp = recs[i]
                stream.append(("recommend", "POST", "/recommend", None, {"title": t}, exp))
            elif ep == "movie":
                if rng.random() < 0.05:
                    mid = n_movies + 1 + int(rng.integers(0, 10_000))
                    exp = {"status": 404}
                else:
                    mid = int(rng.integers(1, n_movies + 1))
                    _m, title, _d, genres = movies[mid - 1]
                    exp = {"status": 200, "title": title, "genres": genres}
                stream.append(("movie", "GET", f"/movie/{mid}", None, None, exp))
            else:
                stream.append(("health", "GET", "/health", None, None, {"status": 200}))
    stream = stream[:n]
    keys = [(s[2], repr(s[3]), repr(s[4])) for s in stream]
    props = {
        "requests": len(stream),
        "repeat_rate": round(1.0 - len(set(keys)) / len(keys), 4),
        "search_typo_share": 0.3,
        "search_no_match_share": 0.1,
    }
    return stream, props


# --------------------------------------------------------------------------
# Curation corpus
# --------------------------------------------------------------------------

def write_corpus(out_dir: str, seed: int, n_docs: int, n_queries: int = 500, dim: int = 64,
                 near_share: float = 0.15, exact_share: float = 0.03) -> dict:
    """``corpus.parquet`` (doc_id, text) and ``embeddings.parquet``
    (doc_id, embedding: array<float>).

    Text: 40-120 tokens from a Zipf 20k-word vocabulary. ``near_share`` of
    the docs are near-duplicates of an earlier original with about 5% of
    tokens replaced; ``exact_share`` are copies differing only in case and
    punctuation. Embeddings are drawn around 32 topic centres; a duplicate
    gets its original's vector plus small noise.
    """
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    vocab = _words(rng, 20_000, 2, 10)
    p = _zipf_probs(len(vocab), 1.05)
    n_near = int(n_docs * near_share)
    n_exact = int(n_docs * exact_share)
    n_orig = n_docs - n_near - n_exact
    texts: list[str] = []
    toks_of: list[list[str]] = []
    centres = rng.normal(size=(32, dim))
    vecs = np.empty((n_docs, dim), dtype=np.float64)
    lens = rng.integers(40, 121, n_orig)
    flat = rng.choice(len(vocab), size=int(lens.sum()), p=p)
    starts = np.concatenate([[0], np.cumsum(lens)])
    vecs[:n_orig] = centres[rng.integers(0, 32, n_orig)] + rng.normal(scale=0.6, size=(n_orig, dim))
    for i in range(n_orig):
        toks = [vocab[j] for j in flat[starts[i]:starts[i + 1]]]
        toks_of.append(toks)
        texts.append(" ".join(toks))
    near_pairs: list[tuple[int, int]] = []
    exact_pairs: list[tuple[int, int]] = []
    for i in range(n_orig, n_orig + n_near):
        src = int(rng.integers(0, n_orig))
        toks = list(toks_of[src])
        for j in rng.choice(len(toks), size=max(1, len(toks) // 20), replace=False):
            toks[j] = vocab[int(rng.integers(0, len(vocab)))]
        toks_of.append(toks)
        texts.append(" ".join(toks))
        vecs[i] = vecs[src] + rng.normal(scale=0.05, size=dim)
        near_pairs.append((src, i))
    for i in range(n_orig + n_near, n_docs):
        src = int(rng.integers(0, n_orig))
        toks = list(toks_of[src])
        toks[0] = toks[0].upper()
        texts.append(" ".join(toks) + "!")
        vecs[i] = vecs[src] + rng.normal(scale=0.01, size=dim)
        exact_pairs.append((src, i))
    # doc ids are a permutation of generation order, so duplicates are
    # not adjacent to their originals; files are written in id order
    ids = rng.permutation(n_docs)
    order = np.argsort(ids)
    emb = vecs[order].astype(np.float32)
    rows = n_docs // 8 + 1
    pq.write_table(
        pa.table({"doc_id": pa.array(np.arange(n_docs), pa.int64()),
                  "text": pa.array([texts[g] for g in order], pa.string())}),
        os.path.join(out_dir, "corpus.parquet"), row_group_size=rows,
    )
    pq.write_table(
        pa.table({"doc_id": pa.array(np.arange(n_docs), pa.int64()),
                  "embedding": pa.array(list(emb), pa.list_(pa.float32()))}),
        os.path.join(out_dir, "embeddings.parquet"), row_group_size=rows,
    )

    def remap(pairs):
        return sorted(tuple(sorted((int(ids[a]), int(ids[b])))) for a, b in pairs)

    return {
        "n_docs": n_docs,
        "near_pairs": remap(near_pairs),
        "exact_pairs": remap(exact_pairs),
        "embeddings": emb,
        "query_ids": sorted(int(x) for x in rng.choice(n_docs, size=min(n_queries, n_docs), replace=False)),
    }


# --------------------------------------------------------------------------
# Catalog star schema
# --------------------------------------------------------------------------

def write_star(out_dir: str, seed: int, n_orders: int) -> None:
    """The tables the catalog subset reads, in the schema and value domains
    the query catalog expects: ``region nation customer orders lineitem``
    (about 4 line items per order), ``events`` (30 days of 2024-01 at
    microsecond resolution, five event types) and ``documents``."""
    rng = np.random.default_rng([seed, 4])
    os.makedirs(out_dir, exist_ok=True)

    def put(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    put("region", {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": regions})
    put("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    n_cust = max(10, n_orders // 10)
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    put("customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
    })
    epoch95 = np.datetime64("1995-01-01")
    odate = epoch95 + rng.integers(0, 2400, n_orders).astype("timedelta64[D]")
    pri = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    put("orders", {
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_orders), 2),
        "o_orderdate": pa.array(odate.astype("datetime64[us]")),
        "o_orderpriority": pri[rng.integers(0, 5, n_orders)],
    })
    per = rng.integers(1, 8, n_orders)
    n_li = int(per.sum())
    okey = np.repeat(np.arange(n_orders), per)
    lnum = np.concatenate([np.arange(1, k + 1) for k in per]).astype(np.int32)
    ship = np.repeat(odate, per) + rng.integers(1, 122, n_li).astype("timedelta64[D]")
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    put("lineitem", {
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, max(10, n_orders // 8), n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 100, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(ship.astype("datetime64[us]")),
    })
    n_ev = n_orders * 2 // 3
    n_users = max(5, n_ev // 500)  # dense enough for view->click matches
    t = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, n_ev))
    put("events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array((np.datetime64("2024-01-01T00:00:00", "us") + t.astype("timedelta64[us]"))),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.uniform(0, 50, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    words = np.array(("spark join window sort table query scan value key part line row data "
                      "batch stream merge filter group agg column order customer hash vector "
                      "small big fast slow the a sprak").split())
    n_doc = max(50, n_orders // 30)
    lens = rng.integers(8, 80, n_doc)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lens]
    put("documents", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": np.array(["de", "en", "es", "fr", "zh"])[rng.integers(0, 5, n_doc)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
