"""The Spark half of the reference API's recommendation flows.

Spark builds the serving index's tables (:func:`build_movie_index_tables`)
and writes them (:func:`write_movie_index`), and :mod:`.movieindex`
publishes them in its serving layout; :func:`load_movie_index` maps that
into the :class:`~.movieindex.MovieIndex` its flows serve.
The flows here are their oracle: the same names over the raw movies
DataFrame, each the reference's Elasticsearch query (``src/api.py``)
planned as Spark operators, returning the collected documents.
:func:`search_page` slices :func:`search_hits`, every ``GET /search``
hit; :func:`movie_frame` is their payload projection.
"""

from __future__ import annotations

from dataclasses import dataclass, replace

import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import normalize_text, tokens
from . import movieindex
from . import search as S
from .movieindex import SEARCH_FIELDS, MovieIndex, keywords, match_status, query_terms
from .movieindex import _lev_le  # noqa: F401 — re-exported: the edit-distance rule callers read here


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


def build_movie_index_tables(movies: DataFrame) -> MovieIndexTables:
    """One corpus scan per frame; the postings explode is map-side."""
    docs = movie_frame(movies).withColumn(
        "__title_norm", F.concat(F.lit(" "), normalize_text("title"), F.lit(" ")))
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


def write_movie_index(tables: MovieIndexTables, index_dir: str) -> None:
    """Write the built index as ``docs.parquet`` and ``postings.parquet``
    under ``index_dir`` (the offline build step), and publish what they
    hold, read back with pyarrow, in the serving layout
    (``movieindex.publish``). No step runs a Spark Python worker, so the
    publish runs from any working directory."""
    for name, frame in (("docs", tables.docs), ("postings", tables.postings)):
        frame.write.mode("overwrite").parquet(f"{index_dir}/{name}.parquet")
    movieindex.publish(pq.read_table(f"{index_dir}/docs.parquet"),
                       pq.read_table(f"{index_dir}/postings.parquet"), index_dir)


def load_movie_index(spark, index_dir: str) -> MovieIndex:
    """The published index, mapped (``movieindex.load``), with ``docs``
    a Spark frame over the files of ``docs.parquet`` at this load."""
    from pyspark.sql.pandas.types import from_arrow_schema

    docs = ds.dataset(f"{index_dir}/docs.parquet", format="parquet")
    # the Arrow schema spares Spark a footer read to infer it
    frame = spark.read.schema(from_arrow_schema(docs.schema)).parquet(*docs.files)
    return replace(movieindex.load(index_dir), docs=frame)


def movie_frame(movies: DataFrame) -> DataFrame:
    """The payload columns of the movies frame — the ES ``_source`` shape
    every oracle flow answers with — over the rows with a movieId, the
    documents the loaded index holds."""
    return movies.filter(F.col("movieId").isNotNull()).select("movieId", "title", "release_date", "genres")


def _docs(frame: DataFrame) -> list[dict]:
    return [r.asDict() for r in frame.collect()]


def _ranked(frame: DataFrame, k: int | None = None) -> list[dict]:
    """The rows of ``frame``, ranked (score desc, movieId asc), the first
    ``k`` or all of them, collected."""
    frame = frame.orderBy(F.desc("score"), F.asc("movieId"))
    return _docs(frame if k is None else frame.limit(k))


def lookup_title(movies: DataFrame, title_query: str, size: int = 5) -> tuple[str, list[dict]]:
    """Phrase-match a title; returns (status, hits): the first ``size``
    matches in movieId order, with status from ``match_status``."""
    hits = _docs(movie_frame(movies).filter(S.phrase_match("title", title_query))
                 .orderBy(F.asc("movieId")).limit(size))
    return match_status(len(hits)), hits


def recommend_by_genre_overlap(movies: DataFrame, movie_id: int, genres: list[str], k: int = 5) -> list[dict]:
    """bool{must: terms(genres), must_not: term(movieId)} ranked by genre
    overlap size (deterministic stand-in for ES relevance)."""
    pred = S.bool_query(must=[S.terms_overlap(F.col("genres"), genres)],
                        must_not=[S.term("movieId", movie_id)])
    overlap = F.size(F.array_intersect(F.col("genres"), F.array(*[F.lit(g) for g in genres])))
    return _ranked(movie_frame(movies).filter(pred).withColumn("score", overlap), k)


def recommend_by_title_keywords(movies: DataFrame, movie_id: int, title: str, k: int = 5,
                                min_len: int = 4) -> list[dict]:
    """Fallback when the source movie has no genres: any ``keywords``
    word matches (minimum_should_match=1), ranked by #matching words."""
    score = S.keyword_match_count(tokens("title"), keywords(title, min_len), min_len=min_len)
    frame = movie_frame(movies).filter(S.term("movieId", movie_id) == F.lit(False))  # must_not self
    return _ranked(frame.withColumn("score", score).filter(F.col("score") >= 1), k)


def search_hits(movies: DataFrame, query: str) -> list[dict]:
    """All docs matching the ``GET /search`` fuzzy multi_match (title^3,
    genres^1, AUTO fuzziness), score > 0, ranked — the hits behind both
    the page window and the ``hits.total.value`` count."""
    frame = movie_frame(movies).withColumn("genres_text", F.concat_ws(" ", "genres"))
    scored = S.multi_match_score(frame, SEARCH_FIELDS, query_terms(query)).drop("genres_text")
    return _ranked(scored.filter(F.col("score") > 0))


def search_page(movies: DataFrame, query: str, lo: int, size: int) -> tuple[list[dict], int]:
    """Hits ``lo`` to ``lo + size`` of :func:`search_hits`, and the count
    of all hits."""
    hits = search_hits(movies, query)
    return hits[lo:lo + size], len(hits)


def movie_by_id(movies: DataFrame, movie_id: int) -> dict | None:
    """The document of ``movie_id``, or ``None``."""
    hits = _docs(movie_frame(movies).filter(F.col("movieId") == movie_id).limit(1))
    return hits[0] if hits else None


def ping(movies: DataFrame) -> bool:
    """Liveness as a 1-row query (the engine's analog of ``es.ping()``)."""
    return movie_frame(movies).limit(1).count() >= 0
