#!/usr/bin/env python
"""Run perfbench's ``batch`` pass several times in one process and print,
for each pass, every stage's seconds and Spark jobs, so the cold first
pass can be set beside the warm ones: a stage that is slow only in pass 1
pays a fixed start-up cost (class loading, JIT, a static table), not
operator work.

    python scripts/batch_passes.py [--passes N] [--seed S] [--jfr PATH]

Run from anywhere; the inputs are generated from ``--seed`` into
``.perfbench/`` under the checkout, as ``perfbench/run.py`` does, and
removed at exit. ``--jfr PATH`` starts a Java Flight Recording
in the Spark JVM, written to PATH when the JVM exits (open it with
``jfr print --events jdk.ExecutionSample PATH``).
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

import batch  # noqa: E402
import common  # noqa: E402
import gen  # noqa: E402
from spans import SparkCounter, Tracer  # noqa: E402


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--jfr", metavar="PATH", help="write a Java Flight Recording of the Spark JVM")
    args = ap.parse_args(argv)

    pkg = common.import_package(ROOT)
    work = os.path.join(ROOT, ".perfbench", f"passes-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    common.configure_env(work)
    if args.jfr:
        os.environ["SPARK_SUBMIT_OPTS"] += (
            f" -XX:StartFlightRecording=filename={os.path.abspath(args.jfr)},dumponexit=true")
    p = {
        "ratings": os.path.join(work, "ml", "u.data"), "items": os.path.join(work, "ml", "u.item"),
        "processed": os.path.join(work, "out", "processed.parquet"),
        "recs": os.path.join(work, "out", "recs.parquet"),
        "corpus": os.path.join(work, "cur", "corpus.parquet"),
        "embeddings": os.path.join(work, "cur", "embeddings.parquet"), "star": os.path.join(work, "star"),
    }
    gen.write_movielens(os.path.join(work, "ml"), args.seed, batch.N_MOVIES, batch.N_USERS,
                        batch.RATINGS_PER_USER)
    corpus = gen.write_corpus(os.path.join(work, "cur"), args.seed, batch.N_DOCS,
                              n_queries=batch.N_QUERIES)
    gen.write_star(p["star"], args.seed, batch.N_ORDERS)

    M = batch._mods(pkg)
    spark = M["session"].get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    counter = SparkCounter(spark)
    passes = []
    try:
        for i in range(args.passes):
            ps = batch._Pass(spark, M, Tracer(), counter, p, corpus)
            ps.run()
            passes.append(ps)
            print(f"pass {i + 1}: {sum(ps.stage_s.values()):.2f} s", file=sys.stderr)
    finally:
        common.shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)

    head = "".join(f"  pass{i + 1:<2} s  jobs" for i in range(len(passes)))
    print(f"{'stage':<40}{head}")
    for name in passes[0].stage_s:
        cells = "".join(f"{ps.stage_s[name]:9.2f} {ps.spark_counts[name][0]:5d}" for ps in passes)
        print(f"{name:<40}{cells}")
    total = "".join(f"{sum(ps.stage_s.values()):9.2f} {sum(c[0] for c in ps.spark_counts.values()):5d}"
                    for ps in passes)
    print(f"{'total':<40}{total}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
