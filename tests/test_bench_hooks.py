"""What the benchmark reads from the package, checked in tier-1.

The traced benchmark run wraps package functions by module and name
(``perfbench/serve.py`` and ``perfbench/batch.py``, ``instrument_layers``).
A deleted or renamed function breaks only that run, so one test installs
both workloads' wrappers with an enabled tracer against the package. It
runs in a subprocess because the wrappers replace module attributes.
``perfbench/serve.py`` also reads fields of the loaded movie index, which
the other test checks."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.operators import (
    movieindex,
    movierec,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = textwrap.dedent(
    """
    import sys
    sys.path[:0] = [{root!r}, {bench!r}]
    import batch
    import common
    import serve
    from spans import Tracer

    pkg = common.import_package({root!r})
    tracer = Tracer(enabled=True)
    serve.instrument_layers(tracer, pkg)
    batch.instrument_layers(tracer, pkg, batch._mods(pkg))
    wrapped = {{
        (mod.__name__, name)
        for mod in list(sys.modules.values())
        if getattr(mod, "__name__", "").startswith(pkg.__name__)
        for name, fn in list(vars(mod).items())
        if getattr(fn, "__perfbench_wrapped__", False)
    }}
    print(len(wrapped))
    """
)


def test_benchmark_layer_hooks_resolve():
    proc = subprocess.run(
        [sys.executable, "-c",
         SCRIPT.format(root=ROOT, bench=os.path.join(ROOT, "perfbench"))],
        capture_output=True, text=True, timeout=300, cwd=ROOT,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    # a tracer that installed nothing would pass vacuously
    assert int(proc.stdout.split()[-1]) > 0, proc.stdout


def test_loaded_index_fields_the_benchmark_reads(spark, tmp_path):
    """``perfbench/serve.py`` checks ``index.docs.collect()`` rows by
    ``movieId``/``title``/``genres``, sizes the terms dictionary with
    ``len(index.terms)`` and iterates ``index.terms`` as ``(field, term)``
    pairs. The rows are the documents the index serves."""
    raw = spark.createDataFrame(
        [(1, "Alpha Beta (1990)", "01-Jan-1990", ["Drama"]), (2, None, None, None),
         (3, "Gamma", "", ["Comedy", "Drama"])],
        "movieId int, title string, release_date string, genres array<string>")
    movierec.write_movie_index(movierec.build_movie_index_tables(raw), str(tmp_path))
    index = movierec.load_movie_index(spark, str(tmp_path))
    rows = index.docs.collect()
    assert sorted(r.movieId for r in rows) == [1, 2, 3]
    for r in rows:
        assert movieindex.movie_by_id(index, r.movieId) == {
            "movieId": r.movieId, "title": r.title, "release_date": r.release_date, "genres": r.genres}
    terms = list(index.terms)
    assert len(index.terms) == len(terms) == len(set(terms))
    assert {field for field, _term in terms} == set(movieindex.SEARCH_FIELDS)
    assert {("title", "alpha"), ("title", "1990"), ("genres_text", "drama")} <= set(terms)
