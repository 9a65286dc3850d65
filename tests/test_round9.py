"""Round-9 entries (q382-q388): non-degeneracy probes plus behavioral
checks beyond DuckDB parity.

Discipline from round 8 (the q358 lesson): a zero-row oracle proves
nothing, so every new entry asserts its result is populated AND that
the interesting condition actually discriminates (some rows in, some
rows out) on the sf0.001 corpus. Differential checks use independent
pure-Python recomputation where the operator has nontrivial logic.
"""

from __future__ import annotations

import re

import pytest

import __spark_entry__ as entrymod
from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.plans.bucket_aggs import (
    _RS_CUT,
)
from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.plans.search import (
    _MPP_FIRST,
    _MPP_PREFIX,
)
from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.plans.spans import (
    _SM_ANCHOR,
    _SM_PREFIX,
    _SM_SLOP,
    _SW_BIG_A,
    _SW_BIG_B,
    _SW_GAP,
    _SW_LITTLE,
)

QUERIES = entrymod.queries()


def _toks(text: str) -> list[str]:
    return [t for t in re.sub(r"[^a-z0-9]+", " ", text.lower()).strip().split(" ") if t]


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return {
        r.doc_id: _toks(r.text)
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    }


# ---------------------------------------------------------------------------
# Non-degeneracy: each new entry is populated AND selective.
# ---------------------------------------------------------------------------
@pytest.mark.parametrize(
    "name",
    [
        "q382_query_string",
        "q383_match_phrase_prefix",
        "q384_span_within",
        "q385_span_multi",
        "q386_random_sampler_agg",
        "q387_ip_prefix_agg",
    ],
)
def test_round9_entries_populated(spark, sf_dir, name):
    n = QUERIES[name](spark, sf_dir).count()
    assert n > 0, f"{name} degenerate: empty result on sf0.001"


def test_q383_selective_and_matches_python(spark, sf_dir, docs):
    rows = {
        r.doc_id: (r.n_hits, r.completions)
        for r in QUERIES["q383_match_phrase_prefix"](spark, sf_dir).collect()
    }
    expected = {}
    for did, tk in docs.items():
        comps = [
            tk[i + 1]
            for i in range(len(tk) - 1)
            if tk[i] == _MPP_FIRST and tk[i + 1].startswith(_MPP_PREFIX)
        ]
        if comps:
            expected[did] = (len(comps), ",".join(sorted(set(comps))))
    assert rows == expected
    # selective: some docs match, some don't
    assert 0 < len(rows) < len(docs)


def test_q384_within_is_subset_of_tf_and_of_containing(spark, sf_dir, docs):
    rows = {
        r.doc_id: (r.n_within, r.little_tf)
        for r in QUERIES["q384_span_within"](spark, sf_dir).collect()
    }
    assert rows and all(0 < w <= tf for w, tf in rows.values())
    # independent recomputation
    expected = {}
    for did, tk in docs.items():
        pa = [i for i, x in enumerate(tk) if x == _SW_BIG_A]
        pb = [i for i, x in enumerate(tk) if x == _SW_BIG_B]
        pl = [i for i, x in enumerate(tk) if x == _SW_LITTLE]
        n_within = sum(
            1
            for p in pl
            if any(
                b > a and b - a - 1 <= _SW_GAP and a <= p <= b
                for a in pa
                for b in pb
            )
        )
        if n_within:
            expected[did] = (n_within, len(pl))
    assert rows == expected
    # inverse-direction consistency: every q384 doc must also be a q353
    # span_containing doc (same big span + same little term)
    containing = {
        r.doc_id for r in QUERIES["q353_span_containing"](spark, sf_dir).collect()
    }
    assert set(rows) == containing


def test_q385_matches_python(spark, sf_dir, docs):
    rows = {
        r.doc_id: (r.best_gap, r.n_pairs_within, r.n_multi_positions)
        for r in QUERIES["q385_span_multi"](spark, sf_dir).collect()
    }
    expected = {}
    for did, tk in docs.items():
        pm = [i for i, x in enumerate(tk) if x.startswith(_SM_PREFIX)]
        pk = [i for i, x in enumerate(tk) if x == _SM_ANCHOR]
        if not pm or not pk:
            continue
        gaps = [abs(x - y) - 1 for x in pm for y in pk]
        if min(gaps) <= _SM_SLOP:
            expected[did] = (
                min(gaps),
                sum(1 for g in gaps if g <= _SM_SLOP),
                len(pm),
            )
    assert rows == expected and 0 < len(rows) < len(docs)


def test_q386_sample_fraction_sane(spark, sf_dir):
    rows = QUERIES["q386_random_sampler_agg"](spark, sf_dir).collect()
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    n_sampled = sum(r.sample_count for r in rows)
    # the hash draw targets p = _RS_CUT/65536 ~ 0.1; on 50 docs allow a
    # wide band but reject degenerate all-in / all-out draws
    assert 0 < n_sampled < n_docs
    p = _RS_CUT / 65536.0
    assert n_sampled <= max(3 * p * n_docs, 10)
    # estimator consistency: est_total = round(sample_count / p, 4)
    for r in rows:
        assert r.est_total == round(r.sample_count * 65536.0 / _RS_CUT, 4)


def test_q387_prefix_buckets_partition_events(spark, sf_dir):
    rows = QUERIES["q387_ip_prefix_agg"](spark, sf_dir).collect()
    n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert sum(r.doc_count for r in rows) == n_events  # exact partition
    assert 1 < len(rows) <= 256  # /8 prefixes discriminate
    assert all(re.fullmatch(r"\d+\.0\.0\.0/8", r.ip_prefix) for r in rows)


# ---------------------------------------------------------------------------
# q388 geohex — differential vs a pure-Python nearest-center assignment
# over the SAME staggered lattice, plus geometric sanity: every point
# lies within the cell circumradius of its assigned center, and the
# full (un-limited) cell histogram partitions the customer set.
# ---------------------------------------------------------------------------
def _py_hex_center(x: int, y: int) -> tuple[int, int]:
    """Nearest center of L1 ∪ L2 in doubled coords (W2=112, H2=194),
    round-half-up per axis, ties to L1 — independent float-free path."""
    X, Y = 2 * x, 2 * y

    def near(t: int, step: int, off: int) -> int:
        return ((t - off + step // 2 + step * 1000) // step) * step + off - step * 1000

    c1 = (near(X, 112, 0), near(Y, 194, 0))
    c2 = (near(X, 112, 56), near(Y, 194, 97))
    d1 = (X - c1[0]) ** 2 + (Y - c1[1]) ** 2
    d2 = (X - c2[0]) ** 2 + (Y - c2[1]) ** 2
    return c1 if d1 <= d2 else c2


def test_q388_matches_python_and_partitions(spark, sf_dir):
    custkeys = [
        r.c_custkey
        for r in spark.read.parquet(f"{sf_dir}/customer.parquet")
        .select("c_custkey")
        .collect()
    ]
    expected: dict[str, int] = {}
    for k in custkeys:
        cx, cy = _py_hex_center((k * 104729) % 1000, (k * 7919) % 1000)
        key = f"{cx}:{cy}"
        expected[key] = expected.get(key, 0) + 1
        # geometric sanity: the point is inside the cell's circumradius
        # (max center spacing/2 in doubled coords: hypot(56, 97) ~ 112)
        X, Y = 2 * ((k * 104729) % 1000), 2 * ((k * 7919) % 1000)
        assert (X - cx) ** 2 + (Y - cy) ** 2 <= 112**2 + 1
    top = sorted(expected.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    rows = QUERIES["q388_geohex_grid"](spark, sf_dir).collect()
    assert [(r.hex, r.doc_count) for r in rows] == top
    assert sum(expected.values()) == len(custkeys)  # cells partition points
    assert len(expected) > 20  # grid discriminates beyond the top-k cut
