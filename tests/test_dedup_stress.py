"""Adversarial-corpus stress tests for the LSH dedup path.

The mega-bucket hazard: on a boilerplate-heavy corpus, one hot band key
collects thousands of documents and the in-bucket pair explosion goes
quadratic (a 5k-doc bucket is ~12.5M pair structs in a single row — the
exact shape that OOMed the uncapped SimHash path, PERF.md item 3).
These tests prove the ``max_bucket`` cap keeps the pair count bounded and
the job alive on a 5k near-identical corpus, while true near-dups living
in small buckets are still found.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.operators import (
    dedup as D,
)

BOILER = (
    "terms of service agreement please read carefully before using this "
    "website all rights reserved by the operator of this site"
)


def _adversarial_corpus(spark, n_boiler=5000):
    """5k docs sharing one boilerplate text (⇒ identical shingle sets ⇒
    every band key is a 5k-member mega-bucket) + 3 distinct docs, two of
    which are near-duplicates of each other."""
    rows = [(i, BOILER) for i in range(n_boiler)]
    rows += [
        (90001, "the quick brown fox jumps over the lazy dog near the river bank"),
        (90002, "the quick brown fox jumps over the lazy dog near the river delta"),
        (90003, "completely unrelated content about spark catalyst optimizer internals"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_mega_bucket_cap_bounds_pairs(spark):
    docs = _adversarial_corpus(spark)
    sh = D.doc_shingles(docs, "doc_id", "text", n=3)
    bands = D.minhash_bands(sh, "doc_id", num_hashes=8, bands=4)
    pairs = D.lsh_candidate_pairs(bands, "doc_id", max_bucket=200)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    # The 5k-doc mega-buckets are dropped wholesale: no boilerplate pairs,
    # no quadratic explosion (uncapped this would be ~12.5M pairs/bucket).
    assert (90001, 90002) in got
    assert all(a >= 90001 for a, _ in got), f"boilerplate pairs leaked: {sorted(got)[:5]}"
    assert len(got) < 10


def test_cap_default_matches_catalog_constant(spark):
    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.plans.dedup import (
        MAX_BUCKET,
    )

    import inspect

    sig = inspect.signature(D.lsh_candidate_pairs)
    assert sig.parameters["max_bucket"].default == MAX_BUCKET == 200


def test_uncapped_still_available_for_exact_semantics(spark):
    """max_bucket=None restores the textbook exact LSH candidate set
    (checked on a small corpus where the quadratic cost is harmless)."""
    docs = _adversarial_corpus(spark, n_boiler=30)
    sh = D.doc_shingles(docs, "doc_id", "text", n=3)
    bands = D.minhash_bands(sh, "doc_id", num_hashes=8, bands=4)
    uncapped = D.lsh_candidate_pairs(bands, "doc_id", max_bucket=None)
    # 30 identical docs => C(30,2) boilerplate pairs + the near-dup pair.
    assert uncapped.count() >= 30 * 29 // 2
    capped = D.lsh_candidate_pairs(bands, "doc_id", max_bucket=10)
    assert {(r.id_a, r.id_b) for r in capped.collect()} == {(90001, 90002)}


def test_end_to_end_pipeline_survives_adversarial_corpus(spark):
    """minhash_dedup_pairs (shingle→band→bucket→verify) completes on the
    5k-boilerplate corpus and verifies the one genuine near-dup pair."""
    docs = _adversarial_corpus(spark)
    out = D.minhash_dedup_pairs(docs, "doc_id", "text", threshold=0.5)
    rows = out.collect()
    assert [(r.id_a, r.id_b) for r in rows] == [(90001, 90002)]
    assert all(0.0 <= r.jaccard <= 1.0 for r in rows)


def test_dedup_clusters_runs_to_convergence_on_long_chain(spark, cluster_path):
    """A 60-node path graph has diameter 59 — far beyond the old fixed
    20-iteration cap. Both paths must collapse it to a single cluster
    rooted at the minimum node."""
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], "id_a long, id_b long"
    )
    labels = D.dedup_clusters(chain)
    got = {(r.node, r.cluster_id) for r in labels.collect()}
    assert got == {(i, 0) for i in range(61)}


@pytest.mark.parametrize("id_type", ["int", "bigint"])
def test_dedup_clusters_paths_agree_on_schema_and_null_ids(spark, monkeypatch, id_type):
    """The driver union-find returns the label propagation's schema and
    rows. A null id takes the smallest cluster id among its non-null
    neighbours, and no label passes through it: 1 and 3 stay apart."""
    df = spark.createDataFrame(
        [(1, None), (None, 3), (3, 4), (7, 8), (None, None), (9, None)],
        f"id_a {id_type}, id_b {id_type}",
    )
    driver = D.dedup_clusters(df)
    monkeypatch.setattr(D, "DRIVER_EDGE_BOUND", 0)
    loop = D.dedup_clusters(df)
    assert driver.schema == loop.schema
    assert [f.dataType.simpleString() for f in driver.schema] == [id_type, id_type]
    want = [(1, 1), (3, 3), (4, 3), (7, 7), (8, 7), (9, 9), (None, 1)]
    for frame in (driver, loop):
        assert sorted((tuple(r) for r in frame.collect()), key=str) == sorted(want, key=str)


def test_incremental_dedup_gates(spark):
    """Synthetic check of both gates: an exact copy of a corpus doc and a
    near-copy (one word changed in a long boilerplate text) must be
    rejected; a novel doc must be admitted."""
    base = "the quick brown fox jumps over the lazy dog near the river bank today " * 5
    corpus = spark.createDataFrame(
        [(1, base), (2, "completely different corpus text about spark shuffles and joins")],
        "doc_id long, text string",
    )
    near = base.replace("river", "ocean", 1)
    batch = spark.createDataFrame(
        [(100, base), (101, near), (102, "a genuinely novel document with fresh content entirely")],
        "doc_id long, text string",
    )
    admitted = {
        r.doc_id
        for r in D.incremental_dedup(batch, corpus, "doc_id", "text", threshold=0.5).collect()
    }
    assert admitted == {102}


def test_ppjoin_planted_neardups_exact_recall(spark):
    """Medium-scale exactness stress for the rebuilt PPJoin (positional
    filter + pre-gate + rational 0.9 threshold): 400 base entities with
    30-element sets, 60 planted near-dup pairs (3 elements swapped ->
    J = 27/33 ~ 0.818 < 0.9, excluded) and 40 planted high-sim pairs
    (1 element swapped -> J = 29/31 ~ 0.935 >= 0.9, included), plus 25
    exact duplicates (J = 1.0, included via the pre-gate path). The
    result must match brute force EXACTLY — 100% recall, zero false
    pairs — under the bucketed candidate generation at real volume."""
    import itertools

    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.operators.dedup import (
        ppjoin_pairs,
    )

    def base_set(i):
        return [f"e{i}_{j}" for j in range(30)]

    rows = [(i, base_set(i)) for i in range(400)]
    nid = 400
    for i in range(60):  # below threshold
        s = base_set(i)
        s[0:3] = [f"x{nid}_0", f"x{nid}_1", f"x{nid}_2"]
        rows.append((nid, s))
        nid += 1
    for i in range(40):  # above threshold
        s = base_set(100 + i)
        s[0] = f"y{nid}"
        rows.append((nid, s))
        nid += 1
    for i in range(25):  # exact duplicates
        rows.append((nid, base_set(200 + i)))
        nid += 1

    df = spark.createDataFrame(rows, "id bigint, els array<string>")
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ppjoin_pairs(df, "id", "els", threshold=0.9).collect()
    }
    sets = {i: frozenset(s) for i, s in rows}
    want = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        union = len(sets[a] | sets[b])
        if inter * 10 >= 9 * union:
            want[(a, b)] = round(inter / union, 6)
    assert len(want) == 65  # 40 high-sim + 25 exact-dup pairs
    assert got == want
