#!/usr/bin/env python
"""End-to-end demo: every job and endpoint of the reference stack, run
against the reference's own MovieLens-100k data on this engine alone
(no Elasticsearch, no Flask — one SparkSession).

Reference equivalents exercised:
  spark-submit preprocessing.py        → pipelines.preprocess
  spark-submit elasticsearch_ingest.py → pipelines.build_movie_index, then
                                         movierec.build_movie_index_tables →
                                         write_movie_index (publish) and
                                         load_movie_index (serve)
  spark-submit model.py               → pipelines.train_recommendations
  POST /recommend                      → serving.recommend_endpoint
  GET  /search?q=...                   → serving.search_endpoint
  GET  /movie/<id>                     → serving.movie_endpoint

Usage: python examples/movielens_demo.py [data_dir]  (default /root/reference/data)
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

import json

from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark import pipelines, serving
from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.operators import movierec
from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.session import get_spark


def main() -> None:
    data = sys.argv[1] if len(sys.argv) > 1 else "/root/reference/data"
    spark = get_spark("movielens-demo")

    print("== preprocess (ratings ⋈ movies) ==")
    # not cached: ALS sizes its blocks from the frame's input files, and a
    # cached frame has none (operators/recommend.train_als)
    processed = pipelines.preprocess(spark, f"{data}/u.data", f"{data}/u.item")
    print(f"rows={processed.count()}, users={processed.select('userId').distinct().count()}")

    print("\n== movie index (genre name-arrays, no unpivot shuffle) ==")
    movies = pipelines.build_movie_index(spark, f"{data}/u.item")
    movies.orderBy("movieId").show(3, truncate=60)

    # publish offline, then serve every request from the loaded index,
    # which holds the whole index in memory
    with tempfile.TemporaryDirectory(prefix="movieindex-") as index_dir:
        movierec.write_movie_index(movierec.build_movie_index_tables(movies), index_dir)
        index = movierec.load_movie_index(spark, index_dir)
    print(f"published and loaded {len(index.ids)} movies, {len(index.terms)} terms")

    print("== POST /recommend {'title': 'Toy Story'} ==")
    code, body = serving.recommend_endpoint(index, {"title": "Toy Story"})
    print(code, json.dumps(body, indent=1)[:600])

    print("== GET /search?q=stor+wars&page=1&size=5 ==")
    code, body = serving.search_endpoint(index, {"q": "stor wars", "page": 1, "size": 5})
    print(code, json.dumps(body, indent=1)[:600])

    print("== GET /movie/50 ==")
    code, body = serving.movie_endpoint(index, 50)
    print(code, json.dumps(body))

    print("== ALS top-10/user (seeded) ==")
    recs = pipelines.train_recommendations(spark, processed, k=10)
    recs.filter(F.col("userId") == 1).orderBy(F.desc("predicted_rating")).show(10)

    print("demo complete")


if __name__ == "__main__":
    main()
