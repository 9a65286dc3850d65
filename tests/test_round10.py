"""Round-10 entries (q400 parent agg, q401 intervals any_of/
not_containing): non-degeneracy probes plus independent pure-Python
recomputation beyond DuckDB parity (the q358 lesson — a shared wrong
formula in both engines still hashes equal, so the logic is re-derived
here from raw rows with no SQL at all)."""

from __future__ import annotations

import re
from collections import defaultdict
from decimal import Decimal

import pytest

import __spark_entry__ as entrymod
from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.plans.spans import (
    _IV2_ALT1,
    _IV2_ALT2,
    _IV2_MAX_GAPS,
    _IV2_NOT,
)

QUERIES = entrymod.queries()


def _toks(text: str) -> list[str]:
    return [t for t in re.sub(r"[^a-z0-9]+", " ", text.lower()).strip().split(" ") if t]


@pytest.mark.parametrize("name", ["q400_parent_agg", "q401_intervals_any_of"])
def test_round10_entries_populated(spark, sf_dir, name):
    n = QUERIES[name](spark, sf_dir).count()
    assert n > 0, f"{name} degenerate: empty result on sf0.001"


def test_q400_matches_python(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_linestatus"
    ).collect()
    orders = {
        r.o_orderkey: (r.o_orderstatus, Decimal(str(r.o_totalprice)))
        for r in spark.read.parquet(f"{sf_dir}/orders.parquet").collect()
    }
    n_children: dict[str, int] = defaultdict(int)
    parents: set[tuple[int, str]] = set()
    for r in li:
        n_children[r.l_linestatus] += 1
        parents.add((r.l_orderkey, r.l_linestatus))
    agg: dict[tuple[str, str], list] = defaultdict(lambda: [0, Decimal(0)])
    for okey, ls in parents:
        st, price = orders[okey]
        cell = agg[(ls, st)]
        cell[0] += 1
        cell[1] += price.quantize(Decimal("0.0001"))
    got = {
        (r.linestatus, r.orderstatus): (
            r.n_children, r.parent_count, r.avg_parent_price
        )
        for r in QUERIES["q400_parent_agg"](spark, sf_dir).collect()
    }
    assert set(got) == set(agg)
    for (ls, st), (cnt, tot) in agg.items():
        nch, pc, avg = got[(ls, st)]
        assert nch == n_children[ls]
        assert pc == cnt
        assert avg == pytest.approx(round(float(tot) / cnt, 4), abs=1e-9)
    # selectivity probe: the parent hop must actually collapse children
    # (otherwise the query degenerates to q333's children agg)
    assert sum(pc for _, pc, _ in got.values()) < sum(n_children.values())


def _minimal_pairs(pa: list[int], pb: list[int]) -> list[tuple[int, int]]:
    cands = []
    for a in pa:
        nxt = [x for x in pb if x > a]
        if nxt:
            e = min(nxt)
            if e - a - 1 <= _IV2_MAX_GAPS:
                cands.append((a, e))
    return [
        c for c in cands
        if not any(d[1] == c[1] and d[0] > c[0] for d in cands)
    ]


def _q401_python(toks: list[str]):
    pos = lambda t: [i for i, x in enumerate(toks) if x == t]  # noqa: E731
    u = _minimal_pairs(pos(_IV2_ALT1[0]), pos(_IV2_ALT1[1])) + _minimal_pairs(
        pos(_IV2_ALT2[0]), pos(_IV2_ALT2[1])
    )
    minimal = [
        c for c in u
        if not any(
            o != c and o[0] >= c[0] and o[1] <= c[1] for o in u
        )
    ]
    px = pos(_IV2_NOT)
    iv = [c for c in minimal if not any(c[0] <= x <= c[1] for x in px)]
    if not iv:
        return None
    return (
        len(iv),
        min(e - s for s, e in iv),
        min(s for s, _ in iv),
    )


def test_q401_matches_python(spark, sf_dir):
    docs = {
        r.doc_id: _toks(r.text)
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    }
    expected = {}
    for did, tk in docs.items():
        r = _q401_python(tk)
        if r is not None:
            expected[did] = r
    got = {
        r.doc_id: (r.n_intervals, r.min_width, r.first_start)
        for r in QUERIES["q401_intervals_any_of"](spark, sf_dir).collect()
    }
    assert got == expected
    # non-degeneracy: the not_containing filter and the gap cap must
    # both be selective on this corpus (some docs match, most don't)
    assert 0 < len(got) < len(docs)
    # the any_of union must draw from BOTH alternatives somewhere in the
    # corpus: widths vary (a single-alternative corpus with uniform term
    # spacing would be suspicious of a dead second branch)
    no_filter = 0
    for did, tk in docs.items():
        pos = lambda t, tk=tk: [i for i, x in enumerate(tk) if x == t]  # noqa: E731
        a1 = _minimal_pairs(pos(_IV2_ALT1[0]), pos(_IV2_ALT1[1]))
        a2 = _minimal_pairs(pos(_IV2_ALT2[0]), pos(_IV2_ALT2[1]))
        if a1 and a2:
            no_filter += 1
    assert no_filter > 0, "second any_of alternative never fires on sf0.001"


def test_pit_snapshot_isolated_from_concurrent_append(spark, sf_dir, tmp_path):
    """SURVEY §2.8c: ES search_after+PIT / scroll semantics. A paginated
    session over a PIT-pinned frame must not see files appended between
    pages; a naive directory read does (which is why the helper exists)."""
    from pyspark.sql import functions as F

    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.sources.readers import (
        pit_snapshot,
    )

    tbl_dir = str(tmp_path / "docs.parquet")
    base = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "n_chars")
    base.write.parquet(tbl_dir)
    n0 = base.count()

    pit = pit_snapshot(spark, str(tmp_path), "docs")
    # page 1: keyset pagination (the q100 idiom — strictly-increasing sort
    # key, WHERE key > last_seen, LIMIT page)
    page1 = pit.orderBy("doc_id").limit(5).collect()
    last = page1[-1].doc_id

    # concurrent append between page requests
    base.select(F.col("doc_id") + 10_000_000, "n_chars").write.mode(
        "append"
    ).parquet(tbl_dir)

    # the PIT frame still sees exactly the open-time snapshot
    assert pit.count() == n0
    page2 = pit.filter(F.col("doc_id") > last).orderBy("doc_id").limit(5).collect()
    assert all(r.doc_id < 10_000_000 for r in page2)
    # ...while a fresh naive read of the directory sees the append (the
    # inconsistency PIT prevents)
    assert spark.read.parquet(tbl_dir).count() == 2 * n0
