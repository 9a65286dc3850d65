"""Round-8 entries: behavioral and property tests beyond DuckDB parity.

Each new operator family gets at least one differential or property
check against an independent reference (pure-Python recomputation,
algebraic invariant, or partitioning-invariance probe) — the same
strategy as test_round7.py.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.operators.relational import (
    scripted_metric,
    top_hits,
)
from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.plans.dedup import (
    _SC_CONFIGS,
)
from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.plans.spatial import (
    _GS_POLY,
)
from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.plans.training import (
    _TB_BUDGET,
)

QUERIES = entrymod.queries()


# ---------------------------------------------------------------------------
# q348 geo_shape — differential vs a pure-Python ray cast (same
# half-open rule, independent implementation path: float slope test
# instead of the generated integer cross-product form).
# ---------------------------------------------------------------------------
def _py_point_in_polygon(px: int, py: int) -> bool:
    inside = False
    n = len(_GS_POLY)
    for i in range(n):
        x1, y1 = _GS_POLY[i]
        x2, y2 = _GS_POLY[(i + 1) % n]
        if (y1 > py) != (y2 > py):
            x_cross = x1 + (x2 - x1) * (py - y1) / (y2 - y1)
            if px < x_cross:
                inside = not inside
    return inside


def test_q348_matches_python_raycast(spark, sf_dir):
    rows = QUERIES["q348_geo_shape_polygon"](spark, sf_dir).collect()
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_nationkey"
    ).collect()
    expected: dict[int, list[int]] = {}
    for r in cust:
        px, py = (r.c_custkey * 104729) % 1000, (r.c_custkey * 7919) % 1000
        nk = int(r.c_nationkey)
        expected.setdefault(nk, [0, 0])
        expected[nk][0] += 1
        expected[nk][1] += int(_py_point_in_polygon(px, py))
    got = {int(r.nationkey): [int(r.n_points), int(r.n_inside)] for r in rows}
    assert got == expected
    # polygon is non-degenerate on this fixture: some in, some out
    assert sum(v[1] for v in got.values()) > 0
    assert sum(v[1] for v in got.values()) < sum(v[0] for v in got.values())


# ---------------------------------------------------------------------------
# scripted_metric operator — partitioning invariance + cap semantics
# ---------------------------------------------------------------------------
def test_scripted_metric_partition_invariant(spark):
    data = [(i % 3, i, float(i * 7 % 11)) for i in range(200)]
    base = spark.createDataFrame(data, ["k", "ord", "x"])
    kw = dict(
        bucket_by=["k"],
        order_by=["ord"],
        map_cols=["x"],
        init=F.lit(1.0),
        fold=lambda acc, row: acc * F.lit(0.5) + row["x"],
    )
    a = scripted_metric(base.repartition(1), **kw).orderBy("k").collect()
    b = scripted_metric(base.repartition(16, "ord"), **kw).orderBy("k").collect()
    assert [r.metric for r in a] == [r.metric for r in b]
    # independent python fold
    for r in a:
        xs = [x for k, o, x in sorted(data, key=lambda t: t[1]) if k == r.k]
        st = 1.0
        for x in xs:
            st = st * 0.5 + x
        assert abs(r.metric - st) < 1e-9
        assert r.doc_count == len(xs)


def test_scripted_metric_cap_uses_first_rows(spark):
    base = spark.createDataFrame([(0, i, 1.0) for i in range(50)], ["k", "ord", "x"])
    out = scripted_metric(
        base,
        bucket_by=["k"],
        order_by=["ord"],
        map_cols=["x"],
        init=F.lit(0.0),
        fold=lambda acc, row: acc + row["x"],
        cap=10,
    ).collect()[0]
    assert out.metric == 10.0  # only the first 10 rows fold
    assert out.doc_count == 50  # uncapped bucket size still reported


# ---------------------------------------------------------------------------
# top_hits operator — differential vs pandas groupby head-k
# ---------------------------------------------------------------------------
def test_top_hits_matches_pandas(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "source", "doc_id", "n_chars"
    )
    out = top_hits(
        docs, ["source"], [F.desc("n_chars"), F.asc("doc_id")], 2, ["doc_id", "n_chars"]
    ).toPandas()
    pdf = docs.toPandas()
    exp = (
        pdf.sort_values(["source", "n_chars", "doc_id"], ascending=[True, False, True])
        .groupby("source")
        .head(2)
    )
    got = set(map(tuple, out[["source", "doc_id"]].itertuples(index=False)))
    assert got == set(map(tuple, exp[["source", "doc_id"]].itertuples(index=False)))
    counts = pdf.groupby("source").size().to_dict()
    for r in out.itertuples(index=False):
        assert r.doc_count == counts[r.source]


# ---------------------------------------------------------------------------
# q355 span corruption — manifest invariants recomputed in python
# ---------------------------------------------------------------------------
def test_q355_spans_nonoverlapping_and_bounded(spark, sf_dir):
    import hashlib

    rows = QUERIES["q355_span_corruption"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        n, k = int(r.n_tokens), int(r.n_spans)
        assert k == (n * 15 // 100) // 3 > 0
        stride = n // k
        assert stride >= 20
        starts = []
        for j in range(1, k + 1):
            h = int(hashlib.md5(f"{r.doc_id}:{j}".encode()).hexdigest()[:4], 16)
            starts.append((j - 1) * stride + h % (stride - 3))
        # non-overlap + in-bounds (spans are 3 tokens, 0-based starts)
        for a, b in zip(starts, starts[1:]):
            assert b - a >= 3
        assert starts[-1] + 3 <= n
        assert r.masked_tokens == 3 * k
        man = ",".join(str(s) for s in starts)
        assert r.manifest_md5 == hashlib.md5(man.encode()).hexdigest()
        assert 0 < r.corruption_rate <= 0.16


# ---------------------------------------------------------------------------
# q350 variable-width histogram — boundaries are the true largest gaps
# ---------------------------------------------------------------------------
def test_q350_buckets_split_on_largest_gaps(spark, sf_dir):
    out = QUERIES["q350_variable_width_histogram"](spark, sf_dir).toPandas()
    vals = sorted(
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("value")
        .distinct()
        .toPandas()["value"]
    )
    gaps = sorted(
        ((vals[i + 1] - vals[i], vals[i + 1]) for i in range(len(vals) - 1)),
        key=lambda t: (-t[0], t[1]),
    )
    boundaries = sorted(v for _, v in gaps[:5])
    assert len(out) <= 6
    # each bucket's [lo, hi] must not straddle a boundary
    for r in out.itertuples(index=False):
        for b in boundaries:
            assert not (r.lo < b <= r.hi)
    assert out["doc_count"].sum() == spark.read.parquet(
        f"{sf_dir}/events.parquet"
    ).count()


# ---------------------------------------------------------------------------
# q357 / q362 — mixture weights are a valid distribution; quotas
# respect the budget
# ---------------------------------------------------------------------------
def test_q357_weights_form_distribution(spark, sf_dir):
    out = QUERIES["q357_domain_reweight"](spark, sf_dir).toPandas()
    assert abs(out["weight"].sum() - 1.0) < 1e-4
    assert (out["weight"] > 0).all()


def test_q362_quota_within_budget(spark, sf_dir):
    out = QUERIES["q362_token_budget"](spark, sf_dir).toPandas()
    assert out["token_quota"].sum() <= _TB_BUDGET
    # floor rounding drops at most one token per source
    assert out["token_quota"].sum() >= _TB_BUDGET - len(out)
    assert (out["token_quota"] >= 0).all()


# ---------------------------------------------------------------------------
# q358 LSH S-curve — more bands at fixed b*r always raises detection
# probability (the reason banding exists)
# ---------------------------------------------------------------------------
def test_q358_more_bands_more_detection(spark, sf_dir):
    out = (
        QUERIES["q358_lsh_s_curve_audit"](spark, sf_dir)
        .orderBy("bands")
        .toPandas()
    )
    assert list(out["bands"]) == sorted(b for b, _ in _SC_CONFIGS)
    ps = list(out["avg_detect_p"])
    assert all(a <= b + 1e-12 for a, b in zip(ps, ps[1:]))
    assert (out["n_pairs"] > 0).all()


# ---------------------------------------------------------------------------
# q361 streaming hopping — every event lands in exactly two windows
# ---------------------------------------------------------------------------
def test_q361_double_counts_events(spark, sf_dir):
    out = QUERIES["q361_stream_hopping"](spark, sf_dir)
    total = out.agg(F.sum("n_events")).collect()[0][0]
    n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert total == 2 * n_events


# ---------------------------------------------------------------------------
# q359 sampler — the sample is exactly the configured size
# ---------------------------------------------------------------------------
def test_q359_sample_size(spark, sf_dir):
    out = QUERIES["q359_sampler_agg"](spark, sf_dir).toPandas()
    assert out["sample_count"].sum() == 100
    assert abs(out["full_share"].sum() - 1.0) < 1e-4


# ---------------------------------------------------------------------------
# q363 template-leak — absent markers report zero, present ones don't
# ---------------------------------------------------------------------------
def test_q363_marker_hits(spark, sf_dir):
    out = {r.marker: r for r in QUERIES["q363_template_leak_audit"](spark, sf_dir).collect()}
    assert out["assistant"].n_docs == 0
    assert out["endoftext"].n_docs == 0
    assert out["spark"].n_docs > 0
    assert out["spark"].min_first_pos >= 1
    assert 0 < out["spark"].doc_share <= 1


# ---------------------------------------------------------------------------
# q364 IVF balance — moments consistent with the q83 histogram
# ---------------------------------------------------------------------------
def test_q364_consistent_with_q83(spark, sf_dir):
    bal = QUERIES["q364_ivf_balance_audit"](spark, sf_dir).collect()[0]
    cells = QUERIES["q83_ivf_cells"](spark, sf_dir).toPandas()
    assert bal.n_cells == len(cells)
    assert bal.n_vecs == cells["n"].sum()
    assert bal.min_cell == cells["n"].min()
    assert bal.max_cell == cells["n"].max()
    assert bal.imbalance_factor >= 1.0
    assert bal.cv >= 0.0


# ---------------------------------------------------------------------------
# q365 metric divergence — overlap bounded, consistent with exact
# brute-force top-k (q37) on the cosine side
# ---------------------------------------------------------------------------
def test_q365_overlap_bounds(spark, sf_dir):
    r = QUERIES["q365_metric_divergence"](spark, sf_dir).collect()[0]
    assert 0 <= r.n_common <= 10
    assert r.jaccard == pytest.approx(r.n_common / (20 - r.n_common), abs=1e-4)


# ---------------------------------------------------------------------------
# q352 rescore — rescored hits are a subset of the primary window
# ---------------------------------------------------------------------------
def test_q352_rescore_window_subset(spark, sf_dir):
    out = QUERIES["q352_rescore"](spark, sf_dir).toPandas()
    assert len(out) <= 10
    assert (out["primary_tf"] > 0).all()
    assert (
        out["score"] == out["primary_tf"] * 1.0 + out["phrase_hits"] * 2.0
    ).all()
    # final order respects the blended score
    assert list(out["score"]) == sorted(out["score"], reverse=True)


# ---------------------------------------------------------------------------
# q353 span_containing — every reported doc really has all three terms
# ---------------------------------------------------------------------------
def test_q353_requires_all_terms(spark, sf_dir):
    out = QUERIES["q353_span_containing"](spark, sf_dir)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    joined = out.join(docs, "doc_id").select("doc_id", "n_containing", "min_width", "text")
    for r in joined.collect():
        toks = r.text.lower().split()
        assert "data" in toks and "table" in toks and "key" in toks
        assert 1 <= r.min_width <= 4 + 1  # gap<=3 → width (b-a) <= 4
        assert r.n_containing >= 1


# ---------------------------------------------------------------------------
# q346/q347 — reported bucket counts match the raw table
# ---------------------------------------------------------------------------
def test_q346_bucket_counts(spark, sf_dir):
    out = QUERIES["q346_top_hits"](spark, sf_dir).toPandas()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").toPandas()
    counts = docs.groupby("source").size().to_dict()
    for r in out.itertuples(index=False):
        assert r.doc_count == counts[r.source]
    assert (out.groupby("source").size() <= 3).all()


def test_q360_df_at_least_tf_docs(spark, sf_dir):
    out = QUERIES["q360_term_vectors"](spark, sf_dir).toPandas()
    assert set(out["doc_id"]) <= {0, 1, 2}
    assert (out.groupby("doc_id").size() <= 5).all()
    # df counts the corpus, so it's at least the number of requested
    # docs whose top-5 include the term
    per_term = out.groupby("term").size()
    for term, cnt in per_term.items():
        assert (out[out["term"] == term]["df"] >= cnt).all()


# ---------------------------------------------------------------------------
# q263/q269 internal gram keys are xxhash64 — assert the test corpus is
# collision-free (the docstring's stated invariant: a collision could
# only matter by merging two grams' doc sets across min_docs)
# ---------------------------------------------------------------------------
def test_crossdoc_gram_hash_collision_free(spark, sf_dir):
    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.functions.text import (
        tokens,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    g = docs.select(tokens("text").alias("tk")).select(
        F.explode(
            F.expr(
                "if(size(tk) >= 5, transform(sequence(1, size(tk) - 4),"
                " i -> concat_ws(' ', slice(tk, i, 5))), array())"
            )
        ).alias("gram")
    )
    row = g.agg(
        F.countDistinct("gram").alias("n_grams"),
        F.countDistinct(F.xxhash64("gram")).alias("n_hashes"),
    ).first()
    assert row.n_grams == row.n_hashes


# ---------------------------------------------------------------------------
# q371 — planted-conversation differential: a hand-built corpus with
# token counts chosen to hit every turn shape (system-only, partial
# last turn, exact multiple, context-boundary span) recomputed by an
# independent pure-Python packer
# ---------------------------------------------------------------------------
def test_q371_chat_packing_planted(spark, tmp_path):
    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.plans.training import (
        _CP_CTX,
        _CP_HDR,
        _CP_SYS,
        _CP_TURN,
    )

    # token counts: 3 (system-only, shorter than the head), 6 (exact
    # head), 18 (head + one full body turn), 20 (partial last turn),
    # 300 (long enough that turns cross the 256-token context boundary)
    plant = [("a", 0, 3), ("a", 1, 18), ("a", 2, 300), ("b", 3, 6), ("b", 4, 20)]
    rows = [(src, did, " ".join(f"w{i}" for i in range(n))) for src, did, n in plant]
    df = spark.createDataFrame(rows, "source string, doc_id bigint, text string")
    path = str(tmp_path / "docs")
    df.write.parquet(path + "/documents.parquet")

    got = [
        tuple(r)
        for r in entrymod.queries()["q371_chat_packing"](spark, path)
        .collect()
    ]

    # independent packer
    want = []
    by_source: dict = {}
    for src, did, n in sorted(plant):
        by_source.setdefault(src, []).append((did, n))
    for src, docs in sorted(by_source.items()):
        off = 0
        for did, n in docs:
            sys_len = min(n, _CP_SYS)
            rest = n - sys_len
            nbt = (rest + _CP_TURN - 1) // _CP_TURN
            widths = [sys_len] + [
                _CP_TURN if k < nbt else rest - _CP_TURN * (nbt - 1)
                for k in range(1, nbt + 1)
            ]
            toff = off
            for k, wd in enumerate(widths):
                role = (
                    "system" if k == 0
                    else ("user" if (k - 1) % 2 == 0 else "assistant")
                )
                total = wd + _CP_HDR
                want.append((
                    src, did, k, role, toff, total,
                    toff // _CP_CTX,
                    toff // _CP_CTX != (toff + total - 1) // _CP_CTX,
                    role == "assistant",
                ))
                toff += total
            off = toff
    assert got == want


# ---------------------------------------------------------------------------
# q372/q375/q377/q378 — cross-checks against independent recomputation
# ---------------------------------------------------------------------------
def test_q372_percolate_counts(spark, sf_dir):
    out = {r["query_id"]: r for r in QUERIES["q372_percolate"](spark, sf_dir).collect()}
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").toPandas()
    assert out["p1_term_lang_en"]["n_matches"] == (docs["lang"] == "en").sum()
    assert out["p3_range_chars"]["n_matches"] == (
        (docs["n_chars"] >= 200) & (docs["n_chars"] < 400)
    ).sum()
    assert out["p5_terms_lang"]["n_matches"] == docs["lang"].isin(["de", "zh"]).sum()
    en = docs.loc[docs["lang"] == "en", "doc_id"]
    assert out["p1_term_lang_en"]["first_doc"] == en.min()
    assert out["p1_term_lang_en"]["last_doc"] == en.max()


def test_q375_bucket_sort_is_page2(spark, sf_dir):
    out = QUERIES["q375_bucket_sort"](spark, sf_dir).toPandas()
    assert len(out) == 3
    # sorted desc, and the top bucket (from=1 skips it) is absent
    sums = list(out["value_sum"])
    assert sums == sorted(sums, reverse=True)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").toPandas()
    import decimal

    agg = (
        ev.assign(v=[decimal.Decimal(str(round(x, 6))) for x in ev["value"]])
        .groupby("event_type")["v"]
        .sum()
        .astype(float)
        .round(4)
        .sort_values(ascending=False)
    )
    assert list(out["event_type"]) == list(agg.index[1:4])


def test_q377_pairing_invariants(spark, sf_dir):
    out = QUERIES["q377_preference_pair_audit"](spark, sf_dir).toPandas()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").toPandas()
    per_src = docs.groupby("source").size()
    for r in out.itertuples(index=False):
        assert r.n_pairs == per_src[r.source] // 2
        assert 0 <= r.chosen_longer <= r.n_pairs


def test_q378_rings_partition_customers(spark, sf_dir):
    out = QUERIES["q378_geo_distance_rings"](spark, sf_dir).toPandas()
    n_cust = spark.read.parquet(f"{sf_dir}/customer.parquet").count()
    assert out["doc_count"].sum() == n_cust
    assert set(out["ring"]) <= {"*-5.0", "5.0-10.0", "10.0-15.0", "15.0-*"}


def test_q379_ip_buckets_partition_events(spark, sf_dir):
    out = QUERIES["q379_ip_range_agg"](spark, sf_dir).toPandas()
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").toPandas()
    assert out["doc_count"].sum() == len(ev)
    assert out["n_users"].sum() == ev["user_id"].nunique()  # hash partitions users


def test_q380_isotropy_bounds(spark, sf_dir):
    out = QUERIES["q380_embedding_isotropy"](spark, sf_dir).toPandas()
    # cosine to own-centroid is in [-1, 1]; with clustered fixtures it
    # should be positive on average
    assert ((out["mean_centroid_cos"] <= 1.000001).all()
            and (out["mean_centroid_cos"] >= -1.000001).all())
    n = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    assert out["n_vecs"].sum() == n


def test_q381_selection_fractions(spark, sf_dir):
    out = QUERIES["q381_best_of_n_audit"](spark, sf_dir).toPandas()
    assert set(out["position"]) <= {1, 2, 3, 4}
    assert abs(out["sel_frac"].sum() - 1.0) < 1e-4
    assert (out["mean_sel_ttr"] <= 1.0).all()
