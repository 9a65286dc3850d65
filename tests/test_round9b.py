"""Round-9 batch-2 entries (q389-q395): non-degeneracy probes plus
independent pure-Python recomputation beyond DuckDB parity.

Same discipline as test_round9.py (the q358 lesson): every entry must
be populated AND selective on sf0.001, and operators with nontrivial
numeric logic are recomputed in pure Python so a shared-bug-in-both-
engines failure mode (Spark and DuckDB given the same wrong SQL) is
still caught.
"""

from __future__ import annotations

import math
import re
from collections import Counter

import pytest

import __spark_entry__ as entrymod
from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.plans.ml import (
    _BT_ITERS,
)
from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.plans.relevance import (
    _RF_SAT_PIVOT,
    _RF_SIG_PIVOT_SQ,
    _RF_TERM,
    _SV_PRUNE_MIN,
    _SV_QUERY,
)

QUERIES = entrymod.queries()


def _toks(text: str) -> list[str]:
    return [t for t in re.sub(r"[^a-z0-9]+", " ", text.lower()).strip().split(" ") if t]


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return {
        r.doc_id: (_toks(r.text), r.n_chars, r.source)
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    }


@pytest.fixture(scope="module")
def event_days(spark, sf_dir):
    import calendar

    rows = spark.read.parquet(f"{sf_dir}/events.parquet").select("event_type", "ts").collect()
    out: list[tuple[str, int]] = []
    for r in rows:
        # timegm treats the naive datetime as UTC (the engine's epoch-day
        # discipline); .timestamp() would shift by the host timezone.
        out.append((r.event_type, calendar.timegm(r.ts.timetuple()) // 86400))
    return out


@pytest.mark.parametrize(
    "name",
    [
        "q389_rank_feature",
        "q390_sparse_vector",
        "q391_change_point",
        "q392_bucket_count_ks_test",
        "q393_bucket_correlation",
        "q394_bradley_terry",
        "q395_bpe_merge_candidates",
    ],
)
def test_round9b_entries_populated(spark, sf_dir, name):
    n = QUERIES[name](spark, sf_dir).count()
    assert n > 0, f"{name} degenerate: empty result on sf0.001"


def test_q389_matches_python(spark, sf_dir, docs):
    got = [(r.doc_id, r.score) for r in QUERIES["q389_rank_feature"](spark, sf_dir).collect()]
    scored = []
    for did, (tk, nch, _src) in docs.items():
        tf = tk.count(_RF_TERM)
        if tf <= 0:
            continue
        n = len(tk)
        s = (
            float(tf)
            + 2.0 * (float(nch) / (nch + _RF_SAT_PIVOT))
            + 1.5 * (float(n * n) / (n * n + _RF_SIG_PIVOT_SQ))
        )
        scored.append((did, round(s, 6)))
    scored.sort(key=lambda x: (-x[1], x[0]))
    assert got == scored[:20]
    # selective: the tf>0 filter drops some docs
    assert 0 < len(scored) < len(docs)


def test_q390_matches_python_and_prune_bounded(spark, sf_dir, docs):
    got = [
        (r.doc_id, r.score, r.pruned_score)
        for r in QUERIES["q390_sparse_vector"](spark, sf_dir).collect()
    ]
    scored = []
    for did, (tk, _nch, _src) in docs.items():
        tf = Counter(tk)
        dv = {t: c * len(t) for t, c in tf.items()}
        s = sum(w * dv.get(t, 0) for t, w in _SV_QUERY.items())
        p = sum(w * dv[t] for t, w in _SV_QUERY.items() if dv.get(t, 0) >= _SV_PRUNE_MIN)
        if s > 0:
            scored.append((did, s, p))
    scored.sort(key=lambda x: (-x[1], -x[2], x[0]))
    assert got == scored[:20]
    assert all(p <= s for _d, s, p in got)
    # prune is non-trivial on this corpus: at least one hit loses weight
    assert any(p < s for _d, s, p in got)


def _series(event_days, etype):
    c = Counter(d for t, d in event_days if t == etype)
    return [c[d] for d in sorted(c)], sorted(c)


def test_q391_matches_python(spark, sf_dir, event_days):
    rows = {
        r.event_type: (r.change_day, r.gain, r.mean_before, r.mean_after, r.direction)
        for r in QUERIES["q391_change_point"](spark, sf_dir).collect()
    }
    assert rows
    for etype, (cday, gain, mb, ma, direction) in rows.items():
        cnts, days = _series(event_days, etype)
        n = len(cnts)
        s = sum(cnts)
        best = None
        for k in range(3, n - 2):  # rn in [3, n-3]
            s1 = sum(cnts[:k])
            n1, n2 = k, n - k
            s2 = s - s1
            diff = s1 * n2 - s2 * n1
            g = (float(diff) * float(diff)) / ((float(n1) * float(n2)) * float(n))
            if best is None or g > best[0]:
                best = (g, days[k], s1, n1, s2, n2)
        g, nd, s1, n1, s2, n2 = best
        import datetime

        assert cday == (datetime.date(1970, 1, 1) + datetime.timedelta(days=nd)).isoformat()
        assert gain == round(g, 4)
        assert mb == round(s1 / n1, 4) and ma == round(s2 / n2, 4)
        assert direction == ("up" if s2 / n2 > s1 / n1 else "down")


def test_q392_matches_python(spark, sf_dir, event_days):
    rows = {
        r.pair: (r.d_stat, r.at_day, r.n_left, r.n_right)
        for r in QUERIES["q392_bucket_count_ks_test"](spark, sf_dir).collect()
    }
    assert set(rows) == {"view_vs_click", "view_vs_purchase", "click_vs_purchase"}
    days = sorted({d for t, d in event_days if t in ("view", "click", "purchase")})
    per = {
        t: Counter(d for tt, d in event_days if tt == t)
        for t in ("view", "click", "purchase")
    }
    for a, b in [("view", "click"), ("view", "purchase"), ("click", "purchase")]:
        na, nb = sum(per[a].values()), sum(per[b].values())
        ca = cb = 0
        best = None
        for d in days:
            ca += per[a].get(d, 0)
            cb += per[b].get(d, 0)
            num = abs(ca * nb - cb * na)
            if best is None or num > best[0]:
                best = (num, d)
        d_stat, _at, n_left, n_right = rows[f"{a}_vs_{b}"]
        assert (n_left, n_right) == (na, nb)
        assert d_stat == round(best[0] / (float(na) * nb), 8)
        assert 0.0 <= d_stat <= 1.0


def test_q393_matches_python(spark, sf_dir, event_days):
    rows = {
        r.event_type: (r.n_buckets, r.r_weekend)
        for r in QUERIES["q393_bucket_correlation"](spark, sf_dir).collect()
    }
    types = ["view", "click", "purchase", "signup", "error"]
    assert set(rows) == set(types)
    days = sorted({d for _t, d in event_days})
    per = {t: Counter(d for tt, d in event_days if tt == t) for t in types}
    for t in types:
        xs = [per[t].get(d, 0) for d in days]
        ys = [1 if (d + 4) % 7 in (0, 6) else 0 for d in days]
        n = len(days)
        sx, sy = sum(xs), sum(ys)
        sxx = sum(x * x for x in xs)
        sxy = sum(x * y for x, y in zip(xs, ys))
        r = float(n * sxy - sx * sy) / math.sqrt(
            float(n * sxx - sx * sx) * float(n * sy - sy * sy)
        )
        n_buckets, r_weekend = rows[t]
        assert n_buckets == n
        assert r_weekend == round(r, 6)
        assert abs(r_weekend) <= 1.0


def test_q394_matches_python(spark, sf_dir, docs):
    got = [
        (r.source, r.strength, r.wins, r.games)
        for r in QUERIES["q394_bradley_terry"](spark, sf_dir).collect()
    ]
    assert got
    # Rebuild pairs: doc_id//2 grouping, TTR winner via cross-multiplication.
    by_pk: dict[int, list] = {}
    for did, (tk, _nch, src) in docs.items():
        by_pk.setdefault(did // 2, []).append((did, src, len(tk), len(set(tk))))
    wins_c: Counter = Counter()
    n_ij: Counter = Counter()
    for members in by_pk.values():
        if len(members) != 2:
            continue
        members.sort()
        (_da, sa, na, nda), (_db, sb, nb, ndb) = members
        if sa == sb:
            continue
        w, l = (sa, sb) if nda * nb >= ndb * na else (sb, sa)
        wins_c[w] += 1
        n_ij[(w, l)] += 1
        n_ij[(l, w)] += 1
    players = sorted({i for i, _j in n_ij})
    p = {i: 1.0 for i in players}
    for _ in range(_BT_ITERS):
        denom = {
            i: sum(
                round(n_ij[(i, j)] / (p[i] + p[j]), 10)
                for j in players
                if n_ij.get((i, j))
            )
            for i in players
        }
        u = {
            i: round(
                (float(wins_c.get(i, 0)) + 1.0)
                / (denom[i] + round(1.0 / (p[i] + 1.0), 10)),
                10,
            )
            for i in players
        }
        tot = sum(u.values())
        p = {i: (u[i] * len(players)) / tot for i in players}
    expected = sorted(
        (
            (i, round(p[i], 6), wins_c.get(i, 0), sum(n_ij[(i, j)] for j in players))
            for i in players
        ),
        key=lambda x: (-x[1], x[0]),
    )
    assert got == expected
    # strengths normalized to mean 1 and strictly positive
    assert all(s > 0 for _i, s, _w, _g in got)
    assert abs(sum(s for _i, s, _w, _g in got) / len(got) - 1.0) < 1e-4


def test_q395_matches_python(spark, sf_dir, docs):
    got = [
        (r.left_sym, r.right_sym, r.merged, r.freq)
        for r in QUERIES["q395_bpe_merge_candidates"](spark, sf_dir).collect()
    ]
    tc: Counter = Counter()
    for _did, (tk, _nch, _src) in docs.items():
        tc.update(tk)
    pf: Counter = Counter()
    for tok, cnt in tc.items():
        for i in range(len(tok) - 1):
            pf[(tok[i], tok[i + 1])] += cnt
    expected = sorted(
        ((a, b, a + b, f) for (a, b), f in pf.items()),
        key=lambda x: (-x[3], x[0], x[1]),
    )[:15]
    assert got == expected
    assert all(f > 0 for _a, _b, _m, f in got)


# ---------------------------------------------------------------------------
# Batch 3 (q396-q398): ES phrase suggester, Gopher quality rules,
# runtime fields.
# ---------------------------------------------------------------------------
from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.plans.corpus import (  # noqa: E402
    _GQ_DOM_PCT,
    _GQ_MWL_HI,
    _GQ_MWL_LO,
    _GQ_STOP_PCT,
    _GQ_STOPWORDS,
    _GQ_TTR_PCT,
    _GQ_WC_MAX,
    _GQ_WC_MIN,
)
from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.plans.search import (  # noqa: E402
    _PS_MAX_DIST,
    _PS_PHRASE,
    _PS_TOP,
    _RT_HI,
    _RT_LO,
)


@pytest.mark.parametrize(
    "name",
    ["q396_phrase_suggest", "q397_gopher_quality_rules", "q398_runtime_fields"],
)
def test_round9b3_entries_populated(spark, sf_dir, name):
    n = QUERIES[name](spark, sf_dir).count()
    assert n > 0, f"{name} degenerate: empty result on sf0.001"


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_q396_matches_python(spark, sf_dir, docs):
    got = [
        (r.suggestion, r.changed_pos, r.repl, r.score, r.freq_sum, r.rank)
        for r in QUERIES["q396_phrase_suggest"](spark, sf_dir).collect()
    ]
    uni: Counter = Counter()
    bi: Counter = Counter()
    for _did, (tk, _nch, _src) in docs.items():
        uni.update(tk)
        bi.update(zip(tk, tk[1:]))
    cands = []
    for p, orig in enumerate(_PS_PHRASE):
        for tok in uni:
            if (
                tok != orig
                and abs(len(tok) - len(orig)) <= _PS_MAX_DIST
                and _lev(tok, orig) <= _PS_MAX_DIST
            ):
                phrase = list(_PS_PHRASE)
                phrase[p] = tok
                score = bi.get((phrase[0], phrase[1]), 0) + bi.get(
                    (phrase[1], phrase[2]), 0
                )
                freq = sum(uni.get(w, 0) for w in phrase)
                cands.append((" ".join(phrase), p, tok, score, freq))
    cands.sort(key=lambda x: (-x[3], -x[4], x[0]))
    expected = [(s, p, t, sc, fr, i + 1) for i, (s, p, t, sc, fr) in enumerate(cands)][
        : _PS_TOP
    ]
    assert got == expected
    # the misspelled position must be correctable and the LM must
    # discriminate: the top suggestion fixes position 1 with a real word
    assert got[0][1] == 1 and got[0][3] > 0
    # some candidate scores differ (non-degenerate ranking)
    assert len({g[3] for g in got}) > 1


def test_q397_matches_python(spark, sf_dir, docs):
    got = {
        r.source: (
            r.n_docs,
            r.fail_wordcount,
            r.fail_meanwordlen,
            r.fail_stopword,
            r.fail_ttr,
            r.fail_dominance,
            r.n_pass,
            r.pass_rate,
        )
        for r in QUERIES["q397_gopher_quality_rules"](spark, sf_dir).collect()
    }
    agg: dict[str, list[int]] = {}
    for _did, (tk, _nch, src) in docs.items():
        n = len(tk)
        sumlen = sum(len(x) for x in tk)
        nstop = sum(1 for x in tk if x in _GQ_STOPWORDS)
        nd = len(set(tk))
        topc = max(Counter(tk).values())
        fails = [
            int(n < _GQ_WC_MIN or n > _GQ_WC_MAX),
            int(10 * sumlen < _GQ_MWL_LO * n or 10 * sumlen > _GQ_MWL_HI * n),
            int(100 * nstop < _GQ_STOP_PCT * n),
            int(100 * nd < _GQ_TTR_PCT * n),
            int(100 * topc > _GQ_DOM_PCT * n),
        ]
        a = agg.setdefault(src, [0, 0, 0, 0, 0, 0, 0])
        a[0] += 1
        for i, fl in enumerate(fails):
            a[1 + i] += fl
        a[6] += int(sum(fails) == 0)
    for src, a in agg.items():
        assert got[src] == (*a, round(a[6] / a[0], 4))
    # non-degeneracy: every rule fires somewhere, and some docs pass
    totals = [sum(a[i] for a in agg.values()) for i in range(1, 7)]
    assert all(t > 0 for t in totals), f"some rule never fires: {totals}"
    assert sum(a[6] for a in agg.values()) < sum(a[0] for a in agg.values())


def test_q398_matches_python(spark, sf_dir, docs):
    got = {
        r.source: (r.hits, r.min_cpt, r.max_cpt, r.avg_cpt)
        for r in QUERIES["q398_runtime_fields"](spark, sf_dir).collect()
    }
    per: dict[str, list[int]] = {}
    n_in = n_out = 0
    for _did, (tk, nch, src) in docs.items():
        cpt = (100 * nch) // len(tk)
        if _RT_LO <= cpt <= _RT_HI:
            per.setdefault(src, []).append(cpt)
            n_in += 1
        else:
            n_out += 1
    expected = {
        src: (len(v), min(v), max(v), round(sum(v) / len(v), 4))
        for src, v in per.items()
    }
    assert got == expected
    # range filter is selective both ways
    assert n_in > 0 and n_out > 0


def test_q399_matches_python(spark, sf_dir, docs):
    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.plans.corpus import (
        _ST_K,
    )

    got = {
        r.doc_id: (r.n_candidates, r.first_candidate, r.boundary_gram)
        for r in QUERIES["q399_doc_stitching"](spark, sf_dir).collect()
    }
    pre: dict[int, str] = {}
    suf: dict[int, str] = {}
    for did, (tk, _nch, _src) in docs.items():
        if len(tk) >= 2 * _ST_K:
            pre[did] = " ".join(tk[:_ST_K])
            suf[did] = " ".join(tk[-_ST_K:])
    expected = {}
    for a, sa in suf.items():
        cands = sorted(b for b, pb in pre.items() if pb == sa and b != a)
        if cands:
            expected[a] = (len(cands), cands[0], sa)
    assert got == expected
    # non-degenerate: some stitch candidates exist, but not everywhere
    assert 0 < len(expected) < len(pre)
