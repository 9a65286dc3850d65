"""Regression tests for review findings: each reproduces a bug that the
fixture data could not surface (adversarial text, NULL keys/values,
reordered field dicts) and pins the fixed behavior."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from tests.parity import compare

TMP = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".tmp")


def test_pii_scrub_patterns_survive_adversarial_text(spark):
    """F.expr-embedded regexes lost backslash escapes ('\\.'→'.',
    '\\s'→'s'), so 'user@examplecom' (no TLD dot) counted as an email
    and URLs matched across whitespace. Run q103's Spark side AND its
    DuckDB oracle over an adversarial documents table and compare."""
    rows = [
        (1, "mail me at user@examplecom or not", "en", "src0", 30),
        (2, "see http://a b c and http://x then http://z", "en", "src0", 40),
        (3, "real contact: jane.doe@mail.example.org ok", "en", "src1", 40),
        (4, "no pii here at all", "en", "src1", 18),
    ]
    d = os.path.join(TMP, "adv_docs")
    shutil.rmtree(d, ignore_errors=True)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(os.path.join(d, "documents.parquet"))

    sdf = entrymod.queries()["q103_pii_scrub"](spark, d)
    import duckdb

    duck = duckdb.connect()
    duck.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{d}/documents.parquet/*.parquet')"
    )
    try:
        odf = duck.execute(entrymod.oracle_sql()["q103_pii_scrub"]).df()
        problems = compare(sdf, odf, "q103-adversarial")
        assert not problems, "\n".join(problems)
    finally:
        duck.close()
    got = {r.doc_id: (r.n_emails, r.n_urls) for r in sdf.collect()}
    assert got[1] == (0, 0)  # missing TLD dot is not an email
    assert got[2] == (0, 3)  # URLs stop at whitespace: three of them
    assert got[3] == (2, 0)  # the real address + q103's injected one (3 % 3 == 0)
    shutil.rmtree(d, ignore_errors=True)


def test_scd2_preserves_null_validity_periods(spark):
    """attr != prev is NULL (filtered) for transitions to/from NULL, which
    dropped NULL periods and emitted duplicate consecutive versions. The
    null-safe comparison must version A → NULL → A as three versions."""
    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.operators.relational import (
        END_OF_TIME_S,
        scd2_history,
    )

    df = spark.createDataFrame(
        [(1, 100, "A", 10), (1, 200, None, 11), (1, 300, "A", 12),
         (2, 100, None, 20), (2, 200, None, 21)],
        "k long, ts long, attr string, tb long",
    )
    hist = {
        (r.version): (r.attr, r.valid_from_s, r.valid_to_s)
        for r in scd2_history(df, "k", "ts", "attr", "tb").filter(F.col("k") == 1).collect()
    }
    assert hist == {
        1: ("A", 100, 200),
        2: (None, 200, 300),
        3: ("A", 300, END_OF_TIME_S),
    }
    # key 2: consecutive NULLs collapse into ONE open version
    h2 = scd2_history(df, "k", "ts", "attr", "tb").filter(F.col("k") == 2).collect()
    assert len(h2) == 1 and h2[0].attr is None and h2[0].valid_to_s == END_OF_TIME_S


def test_asof_join_null_keys_never_match(spark):
    """Window.partitionBy groups NULLs, so NULL-key clicks used to be
    'attributed' to NULL-key views — any SQL join (and the DuckDB ASOF
    oracle) produces no such match."""
    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.operators.relational import (
        asof_join_backward,
    )

    views = spark.createDataFrame(
        [(None, 100, 1), (7, 100, 2)], "user_id long, ts long, view_id long"
    )
    clicks = spark.createDataFrame(
        [(None, 200, 10), (7, 200, 11)], "user_id long, ts long, click_id long"
    )
    got = asof_join_backward(clicks, views, on="user_id", ts="ts").collect()
    assert [(r.user_id, r.click_id, r.view_id) for r in got] == [(7, 11, 2)]
    # left semantics: the NULL-key click survives, unmatched
    left = asof_join_backward(clicks, views, on="user_id", ts="ts", how="left").collect()
    assert {(r.user_id, r.click_id, r.view_id) for r in left} == {
        (None, 10, None), (7, 11, 2),
    }


def test_multimatch_index_survives_field_reordering(spark, sf_dir):
    """A persisted index must stay correct when the query's fields dict
    is ordered differently from the build-time one — the old ordinal key
    silently scored terms against the wrong field's statistics."""
    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.operators.search import (
        multi_match_bm25_indexed,
    )
    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.operators.textindex import (
        build_multimatch_index,
    )
    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.sources.readers import (
        load_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    built = {"source": 3.0, "text": 1.0}
    reordered = {"text": 1.0, "source": 3.0}
    vocab, stats = build_multimatch_index(docs, "doc_id", built)
    a = {
        r.doc_id: r.score
        for r in multi_match_bm25_indexed(
            docs, vocab, stats, "doc_id", built, ["sprak", "window"]
        ).collect()
    }
    b = {
        r.doc_id: r.score
        for r in multi_match_bm25_indexed(
            docs, vocab, stats, "doc_id", reordered, ["sprak", "window"]
        ).collect()
    }
    assert a and set(a) == set(b)
    # same contributions folded in a different (f, term) order — equal to
    # rounding tolerance
    assert all(abs(a[k] - b[k]) <= 1e-4 for k in a)


def test_slop_batch_empty_phrase_list(spark, sf_dir):
    """Round-6 ADVICE: an empty phrase batch must return an empty
    (phrase, doc_id) frame — not raise IndexError on parts[0]."""
    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.operators.textindex import (
        build_positional_postings,
        phrase_search_slop_batch,
    )
    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.sources.readers import (
        load_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    postings = build_positional_postings(docs, "doc_id", "text")
    out = phrase_search_slop_batch(postings, [], slop=2)
    assert out.columns == ["phrase", "doc_id"]
    assert out.count() == 0
    # doc_id keeps the postings' type so unions with non-empty batches work
    assert out.schema["doc_id"].dataType == postings.schema["doc_id"].dataType


def test_image_dhash_rejects_oversized_grid(spark):
    """Round-6 ADVICE: a grid whose fingerprint exceeds 63 bits must fail
    loudly instead of silently wrapping the int64 shift."""
    import pytest

    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.operators.multimodal import (
        image_dhash,
        synth_raw_frames,
    )

    base = spark.range(4).withColumnRenamed("id", "doc_id")
    frames = synth_raw_frames(base, width=18, height=18)
    with pytest.raises(ValueError, match="63"):
        image_dhash(frames, width=18, height=18)  # 9*8 = 72 bits
    # the documented 16x16 default still fits (8*7 = 56 bits)
    ok = image_dhash(synth_raw_frames(base), width=16, height=16)
    assert ok.count() == 4


def test_has_child_min_children_zero(spark):
    """Round-6 ADVICE: min_children=0 is ES-valid and must keep parents
    with ZERO matching children (they have no counts row, so the
    semi-join path would drop them)."""
    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.operators.search import (
        has_child,
    )

    parents = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "pid long, name string"
    )
    children = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 5)], "pid long, v long"
    )
    pred = F.col("v") >= 10
    # min_children=0, no cap: every parent qualifies (incl. childless 3)
    all_p = {r.pid for r in has_child(parents, children, "pid", "pid", pred, min_children=0).collect()}
    assert all_p == {1, 2, 3}
    # min_children=0 with max_children=1: parent 1 (2 matching) excluded
    capped = {
        r.pid
        for r in has_child(
            parents, children, "pid", "pid", pred, min_children=0, max_children=1
        ).collect()
    }
    assert capped == {2, 3}
    # the >=1 path is unchanged
    one = {r.pid for r in has_child(parents, children, "pid", "pid", pred).collect()}
    assert one == {1}


def test_q390_filter_stays_above_topk(spark):
    """Round-9 PERF lesson: q390's score>0 filter must sit ABOVE the
    TakeOrdered. Filtered below, Catalyst inlines the full score
    expression (map build + regexp inside an aggregate lambda) into an
    interpreted Filter that re-evaluates it per lambda step per row —
    measured 16 s of a 17 s sf1 runtime. The plan contract: no Filter
    node under this plan may carry an inlined regexp/lambda condition;
    the only Filter runs on the k post-limit rows by column reference."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["q390_sparse_vector"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    for line in plan.split("\n"):
        s = line.strip()
        if "Filter" in s and "regexp_" in s:
            raise AssertionError(
                "q390 filter was pushed below the projection and inlines "
                f"the score expression again: {s[:200]}"
            )


def test_with_once_semantics_and_barrier(spark):
    """functions/plan.py with_once: (a) result-identical to withColumn,
    including NULL expression values (explode(array(NULL)) keeps the
    row — array(NULL) is a 1-element array); (b) a downstream filter on
    the once-column must NOT inline the expression into a Filter below
    the Generate."""
    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.functions.plan import (
        with_once,
    )

    df = spark.createDataFrame(
        [(1, "a b a"), (2, "b"), (3, None)], "id long, txt string"
    )
    expr = F.size(F.split(F.col("txt"), " "))  # NULL txt -> NULL size
    plain = df.withColumn("n", expr).filter(F.col("n") >= 2)
    once = with_once(df, "n", expr).filter(F.col("n") >= 2)
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, plain.collect()))
    # NULL row survives the barrier itself (filter drops it in both)
    assert with_once(df, "n", expr).count() == 3
    # plan contract: the only Filter references the generated attribute,
    # never an inlined split()
    plan = once._jdf.queryExecution().executedPlan().toString()
    for line in plan.split("\n"):
        s = line.strip()
        if "Filter" in s and "split" in s:
            raise AssertionError(f"with_once barrier breached: {s[:160]}")


_TMP_DIRS_SCRIPT = """
import json, os, sys
sys.path.insert(0, {root!r})
import __spark_entry__ as m
from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.session import get_spark

def listing():
    # the shared .tmp/bucketed root itself is not per-process
    return {{os.path.join(d, n) for d in ({tmp!r}, os.path.join({tmp!r}, "bucketed"))
            if os.path.isdir(d) for n in os.listdir(d) if n != "bucketed"}}

before = listing()
spark = get_spark("tmp-dirs", extra_conf={{"spark.sql.shuffle.partitions": "8"}})
for name in ("q153_shard_manifest", "q144_bucketed_join"):
    m.queries()[name](spark, {sf!r}).collect()
print(json.dumps(sorted(listing() - before)))
"""


def test_q153_q144_leave_no_tmp_dirs(sf_dir):
    """q153's shard export and q144's bucketed tables are per-process
    directories under ``.tmp``: a process that builds and collects both
    creates them, and they are gone once it exits."""
    import json
    import subprocess
    import sys

    root = os.path.dirname(TMP)
    proc = subprocess.run(
        [sys.executable, "-c", _TMP_DIRS_SCRIPT.format(root=root, tmp=TMP, sf=sf_dir)],
        capture_output=True, text=True, timeout=600, cwd=root,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    created = json.loads(proc.stdout.strip().splitlines()[-1])
    assert any("shard_export_" in p for p in created), created
    assert sum("bkt_" in p for p in created) == 2, created
    assert [p for p in created if os.path.exists(p)] == []
