"""Differential fuzzing: generated strings through the engine's text
expressions vs the DuckDB mirror of the same spec. Catches divergence in
normalization/tokenization/hash semantics that fixed testdata might miss."""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.functions.text import (
    NORM_SQL,
    TOKS_SQL,
    normalize_text,
    tokens,
)

# NUL is excluded: DuckDB VARCHAR cannot carry \x00 (and the engine's
# sources never produce it); quotes/backslashes are fine via register().
TEXTS = st.lists(
    st.text(
        alphabet=st.characters(codec="ascii", exclude_characters="\x00"),
        max_size=60,
    ),
    min_size=1,
    max_size=8,
)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    yield con
    con.close()


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(texts=TEXTS)
def test_normalize_and_tokenize_match_duckdb(spark, duck, texts):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id long, text string")
    got = {
        r.id: (r.norm, r.toks, r.fp)
        for r in df.select(
            "id",
            normalize_text("text").alias("norm"),
            F.concat_ws("\x01", tokens("text")).alias("toks"),
            F.md5(normalize_text("text")).alias("fp"),
        ).collect()
    }
    import pandas as pd

    duck.register("t_view", pd.DataFrame({"id": range(len(texts)), "text": texts}))
    duck.execute("CREATE OR REPLACE TABLE t AS SELECT * FROM t_view")
    want = {
        r[0]: (r[1], r[2], r[3])
        for r in duck.execute(
            f"""
            SELECT id, {NORM_SQL} AS norm,
                   array_to_string({TOKS_SQL}, chr(1)) AS toks,
                   md5({NORM_SQL}) AS fp
            FROM t
            """
        ).fetchall()
    }
    assert got == want


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(texts=TEXTS)
def test_minhash_band_keys_match_duckdb(spark, duck, texts):
    """The LSH band-key construction (chunked md5 minhash) against its SQL
    mirror from plans/dedup.py and functions/text.py, on generated text."""
    import pandas as pd
    from pyspark.sql import functions as F2

    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.operators.dedup import (
        doc_shingles,
        minhash_bands,
    )
    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.functions.text import (
        SHINGLES_SQL,
    )
    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.plans.dedup import (
        _BANDS_UNION,
        _SIG_COLS,
    )

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    bands = minhash_bands(doc_shingles(df, "doc_id", "text", 3), "doc_id")
    got = sorted(tuple(r) for r in bands.collect())

    duck.register("fz_view", pd.DataFrame({"doc_id": range(len(texts)), "text": texts}))
    duck.execute("CREATE OR REPLACE TABLE documents AS SELECT * FROM fz_view")
    sql = f"""
    WITH t AS (SELECT doc_id, {TOKS_SQL} AS tk FROM documents),
    s AS (SELECT doc_id, {SHINGLES_SQL} AS sh FROM t),
    sig AS (SELECT doc_id, {_SIG_COLS} FROM s)
    SELECT doc_id, band, key FROM ({_BANDS_UNION})
    """
    want = sorted(tuple(r) for r in duck.execute(sql).fetchall())
    assert got == want


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(texts=TEXTS)
def test_simhash_matches_duckdb(spark, duck, texts):
    import pandas as pd

    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.operators.dedup import (
        simhash_fingerprints,
    )
    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.plans.dedup import (
        _simhash_sql,
    )

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    got = sorted((r.doc_id, r.fingerprint) for r in simhash_fingerprints(df, "doc_id", "text").collect())
    duck.register("fz2_view", pd.DataFrame({"doc_id": range(len(texts)), "text": texts}))
    duck.execute("CREATE OR REPLACE TABLE documents AS SELECT * FROM fz2_view")
    want = sorted(
        tuple(r)
        for r in duck.execute(
            f"WITH t AS (SELECT doc_id, {TOKS_SQL} AS tk FROM documents) "
            f"SELECT doc_id, {_simhash_sql()} AS fingerprint FROM t"
        ).fetchall()
    )
    assert got == want


KEYS = st.integers(min_value=0, max_value=15)
OPS = st.sampled_from(["U", "D", "I"])


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    base_keys=st.lists(KEYS, min_size=1, max_size=10, unique=True),
    change_items=st.lists(
        st.tuples(KEYS, OPS, st.booleans()), min_size=0, max_size=10, unique_by=lambda t: t[0]
    ),
)
def test_merge_cdc_matches_duckdb(spark, duck, base_keys, change_items):
    """operators.relational.merge_cdc vs a DuckDB FULL OUTER JOIN replay
    of MERGE semantics on random base/change sets: inserts on absent
    keys, updates/deletes on any key (a delete for an absent key is a
    legal no-op; an insert for a present key overwrites like an update —
    both engines must agree on these edges too). The boolean in each
    change item makes the payload NULL: a 'U' carrying NULL must NULL
    the column out (real MERGE), not keep the base value."""
    import pandas as pd

    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.operators.relational import (
        merge_cdc,
    )

    base = spark.createDataFrame(
        [(k, float(k * 10)) for k in base_keys], "k long, v double"
    )
    changes = spark.createDataFrame(
        [(k, op, None if is_null else float(k * 100)) for k, op, is_null in change_items],
        "k long, op string, v double",
    )
    got = {
        (r.k, r.v, r.merge_action)
        for r in merge_cdc(base, changes, key="k").collect()
    }
    duck.register("b_view", pd.DataFrame({"k": base_keys, "v": [float(k * 10) for k in base_keys]}))
    duck.register(
        "c_view",
        pd.DataFrame(
            {
                "k": [k for k, _, _ in change_items],
                "op": [op for _, op, _ in change_items],
                "v": [None if is_null else float(k * 100) for k, _, is_null in change_items],
            }
        ).astype({"k": "int64", "op": "string", "v": "float64"}),
    )
    want = {
        (r[0], r[1], r[2])
        for r in duck.execute(
            """
            SELECT COALESCE(c.k, b.k) AS k,
                   CASE WHEN c.op IS NOT NULL THEN c.v ELSE b.v END AS v,
                   CASE WHEN c.op = 'I' THEN 'inserted'
                        WHEN c.op = 'U' THEN 'updated'
                        ELSE 'kept' END AS merge_action
            FROM b_view b FULL OUTER JOIN c_view c ON b.k = c.k
            WHERE c.op IS NULL OR c.op <> 'D'
            """
        ).fetchall()
    }
    assert got == want


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    cutoff_frac=st.floats(min_value=0.0, max_value=1.0),
)
def test_incremental_agg_merge_equals_recompute(spark, cutoff_frac):
    """q141's algebra fuzzed: for ANY date cutoff splitting orders into
    MV/delta (including empty MV and empty delta at the extremes),
    merge(MV, delta) must equal the full recompute row-for-row."""
    from pyspark.sql import functions as F

    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.plans.resolution import (
        _mv_rollup,
        incremental_agg_merge,
    )
    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.sources.readers import (
        load_table,
    )

    orders = load_table(spark, "/root/testdata/sf0.001", "orders")
    bounds = orders.agg(
        F.min("o_orderdate").alias("lo"), F.max("o_orderdate").alias("hi")
    ).first()
    lo, hi = bounds.lo, bounds.hi
    cutoff = lo + (hi - lo) * cutoff_frac
    merged = incremental_agg_merge(
        _mv_rollup(orders.filter(F.col("o_orderdate") < F.lit(cutoff))),
        _mv_rollup(orders.filter(F.col("o_orderdate") >= F.lit(cutoff))),
    )
    full = _mv_rollup(orders).select(
        "o_custkey", "cnt", F.round(F.col("rev").cast("double"), 2).alias("rev")
    )
    assert merged.exceptAll(full).count() == 0
    assert full.exceptAll(merged).count() == 0


# ---------------------------------------------------------------------------
# PPJoin exactness fuzz: the prefix-filtered join must equal the
# brute-force all-pairs Jaccard join on arbitrary random set families
# (including empty overlaps, identical sets, and subset chains).
# ---------------------------------------------------------------------------
_SETS = st.lists(
    st.lists(st.sampled_from([f"e{i}" for i in range(12)]), min_size=1, max_size=8),
    min_size=2,
    max_size=12,
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(fams=_SETS, t_pre=st.sampled_from([(0.5, True), (0.5, False), (0.9, True), (2 / 3, False)]))
def test_ppjoin_equals_bruteforce(spark, fams, t_pre):
    # Thresholds cover the FP-hostile cases: 0.9 is not binary-
    # representable (the old float-ceil prefix length could land one too
    # high and miss pairs), 2/3 is not even decimal. Both pre-dedup paths
    # (identical-set collapse on/off) must match brute force exactly.
    from fractions import Fraction

    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.operators.dedup import (
        ppjoin_pairs,
    )

    threshold, pre = t_pre
    frac = Fraction(threshold).limit_denominator(1_000_000)
    fams = [sorted(set(f)) for f in fams]
    df = spark.createDataFrame(
        [(i, f) for i, f in enumerate(fams)], "id bigint, els array<string>"
    )
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ppjoin_pairs(
            df, "id", "els", threshold=threshold, pre_dedup_exact=pre
        ).collect()
    }
    want = {}
    for i in range(len(fams)):
        for j in range(i + 1, len(fams)):
            a, b = set(fams[i]), set(fams[j])
            jac = Fraction(len(a & b), len(a | b))
            if jac >= frac:
                want[(i, j)] = round(float(jac), 6)
    assert got == want, (got, want)


# ---------------------------------------------------------------------------
# Sloppy-phrase fuzz: the greedy positional certificate must equal a
# brute-force "exists increasing tuple within span" check on arbitrary
# token sequences (repeated terms, repeated phrase words, slop 0-3).
# ---------------------------------------------------------------------------
_DOC_TOKS = st.lists(st.sampled_from(list("abcd")), min_size=0, max_size=12)


def _slop_bruteforce_ordered(doc: list[str], phrase: list[str], slop: int) -> bool:
    from itertools import product

    occ = [[i for i, t in enumerate(doc) if t == p] for p in phrase]
    if any(not o for o in occ):
        return False
    for tup in product(*occ):
        if all(tup[k] > tup[k - 1] for k in range(1, len(tup))) and (
            tup[-1] - tup[0] - (len(phrase) - 1) <= slop
        ):
            return True
    return False


def _slop_bruteforce_transposed(doc: list[str], phrase: list[str], slop: int) -> bool:
    """Min offset-adjusted spread over INJECTIVE assignments <= slop —
    the engine's transposition-admitting semantic, enumerated directly."""
    from itertools import product

    occ = [[i for i, t in enumerate(doc) if t == p] for p in phrase]
    if any(not o for o in occ):
        return False
    for tup in product(*occ):
        if len(set(tup)) != len(tup):
            continue
        pps = [p - k for k, p in enumerate(tup)]
        if max(pps) - min(pps) <= slop:
            return True
    return False


def _slop_bruteforce(doc: list[str], phrase: list[str], slop: int, transpositions: bool) -> bool:
    # mirror the engine's routing: repeated-term phrases use the
    # ordered-only subset even when transpositions are on
    if transpositions and len(set(phrase)) == len(phrase):
        return _slop_bruteforce_transposed(doc, phrase, slop)
    return _slop_bruteforce_ordered(doc, phrase, slop)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(_DOC_TOKS, min_size=1, max_size=8),
    phrase=st.lists(st.sampled_from(list("abcd")), min_size=1, max_size=3),
    slop=st.integers(min_value=0, max_value=3),
    transpositions=st.booleans(),
)
def test_phrase_slop_equals_bruteforce(spark, docs, phrase, slop, transpositions):
    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.operators.textindex import (
        phrase_search_slop_batch,
    )

    ph = " ".join(phrase)
    rows = [
        (d, p + 1, t) for d, toks in enumerate(docs) for p, t in enumerate(toks)
    ]
    if not rows:
        return
    postings = spark.createDataFrame(rows, "doc_id bigint, pos int, term string")
    got = {
        r["doc_id"]
        for r in phrase_search_slop_batch(
            postings, [ph], slop=slop, transpositions=transpositions
        ).collect()
    }
    want = {
        d for d, toks in enumerate(docs)
        if _slop_bruteforce(toks, phrase, slop, transpositions)
    }
    assert got == want, (got, want, docs, phrase, slop, transpositions)


# ---------------------------------------------------------------------------
# Intra-doc span-removal fuzz: covered positions / cleaned sequence must
# match a direct Python computation of "every occurrence after the first
# of each repeated n-gram covers its n positions".
# ---------------------------------------------------------------------------
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(docs=st.lists(_DOC_TOKS, min_size=1, max_size=6))
def test_intradoc_span_dedup_equals_bruteforce(spark, docs):
    import hashlib

    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.plans.corpus import (
        _SPAN_N,
        q253_intradoc_span_dedup,
    )

    n = _SPAN_N
    # Reuse the registered plan by materializing a tiny documents table.
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        df = spark.createDataFrame(
            [(i, " ".join(toks), "en", "src0", len(" ".join(toks)))
             for i, toks in enumerate(docs)],
            "doc_id bigint, text string, lang string, source string, n_chars bigint",
        )
        df.coalesce(1).write.parquet(os.path.join(td, "documents.parquet"))
        got = {
            r["doc_id"]: (r["n_tokens"], r["n_removed"], r["clean_hash"])
            for r in q253_intradoc_span_dedup(spark, td).collect()
        }
    for i, toks in enumerate(docs):
        # mirror the engine/oracle tokenizer exactly: splitting "" yields
        # one empty token, not zero tokens
        toks = " ".join(toks).split(" ")
        seen: dict[tuple, int] = {}
        covered: set[int] = set()
        for s in range(len(toks) - n + 1):
            g = tuple(toks[s:s + n])
            if g in seen:
                covered.update(range(s, s + n))
            else:
                seen[g] = s
        cleaned = " ".join(t for p, t in enumerate(toks) if p not in covered)
        want = (
            len(toks),
            len(covered),
            hashlib.md5(cleaned.encode()).hexdigest(),
        )
        assert got[i] == want, (i, toks, got[i], want)


# ---------------------------------------------------------------------------
# As-of join fuzz: the join-free union-tag + running-last window shape
# must equal a direct Python as-of computation on random keyed series —
# duplicate timestamps on both sides, equal-ts left/right collisions
# (>= semantics), NULL keys, and both how= modes.
# ---------------------------------------------------------------------------
_TS = st.integers(min_value=0, max_value=20)
_KEY = st.one_of(st.none(), st.integers(min_value=0, max_value=3))


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    lrows=st.lists(st.tuples(_KEY, _TS), min_size=1, max_size=15),
    rrows=st.lists(st.tuples(_KEY, _TS, st.integers(0, 99)), min_size=0, max_size=15),
    how=st.sampled_from(["inner", "left"]),
)
def test_asof_join_equals_bruteforce(spark, lrows, rrows, how):
    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.operators.relational import (
        asof_join_backward,
    )

    left = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(lrows)], "k int, ts int, lid int"
    )
    right = spark.createDataFrame(rrows, "k int, ts int, v int")
    got = {
        (r["lid"], r["ts_matched"], r["v"])
        for r in asof_join_backward(left, right, on="k", ts="ts", how=how).collect()
    }
    want = set()
    for lid, (k, t) in enumerate(lrows):
        cands = [
            (rt, rv) for rk, rt, rv in rrows if rk is not None and rk == k and rt <= t
        ]
        if cands:
            # max ts; at equal ts the payload-struct max wins -> max (ts, v)
            want.add((lid,) + max(cands))
        elif how == "left":
            want.add((lid, None, None))
    assert got == want, (got, want)


# ---------------------------------------------------------------------------
# Bucketed range-join fuzz: the equality-bucket rewrite must equal the
# brute-force start <= ts < end predicate for arbitrary intervals
# (empty, point-width, bucket-straddling) and bucket granularities,
# with and without the broadcast path.
# ---------------------------------------------------------------------------
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    events=st.lists(st.integers(0, 60), min_size=1, max_size=20),
    intervals=st.lists(
        st.tuples(st.integers(0, 60), st.integers(0, 20)), min_size=1, max_size=10
    ),
    bucket=st.sampled_from([1, 3, 7, 16]),
    bc=st.booleans(),
)
def test_range_join_bucketed_equals_bruteforce(spark, events, intervals, bucket, bc):
    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.operators.relational import (
        range_join_bucketed,
    )

    ev = spark.createDataFrame([(i, t) for i, t in enumerate(events)], "eid int, ts long")
    iv = spark.createDataFrame(
        [(j, s, s + w) for j, (s, w) in enumerate(intervals)],
        "iid int, start long, end long",
    )
    got = {
        (r["eid"], r["iid"])
        for r in range_join_bucketed(
            ev, "ts", iv, "start", "end", bucket=bucket, broadcast_intervals=bc
        ).collect()
    }
    want = {
        (i, j)
        for i, t in enumerate(events)
        for j, (s, w) in enumerate(intervals)
        if s <= t < s + w
    }
    assert got == want, (got, want, bucket)


# ---------------------------------------------------------------------------
# Connected-components fuzz: both ``dedup_clusters`` paths (driver
# union-find, label propagation) on random pair graphs (self-loops,
# duplicate edges, chains, stars) must equal a Python union-find — every
# node labeled with the smallest id in its component.
# ---------------------------------------------------------------------------
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 20), st.integers(0, 20)), min_size=1, max_size=25
    )
)
def test_dedup_clusters_equals_union_find(spark, cluster_path, edges):
    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.operators.dedup import (
        dedup_clusters,
    )

    df = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
    got = {(r["node"], r["cluster_id"]) for r in dedup_clusters(df).collect()}

    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comps: dict[int, list[int]] = {}
    for n in parent:
        comps.setdefault(find(n), []).append(n)
    want = {(n, min(ms)) for r, ms in comps.items() for n in ms}
    assert got == want, (got, want)


# ---------------------------------------------------------------------------
# Cross-doc span-excision fuzz: the boilerplate set (n-grams in >= K
# distinct docs), per-doc covered positions, and cleaned reconstruction
# must match a direct Python computation — with boilerplate PLANTED into
# a random subset of docs (the 4-letter alphabet already collides at
# n=2, so both planted and accidental boilerplate are exercised).
# ---------------------------------------------------------------------------
_XDOC_BOILER = ["b", "a", "d", "c"]  # the planted template span


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(_DOC_TOKS, min_size=1, max_size=8),
    plant=st.lists(st.booleans(), min_size=8, max_size=8),
    n=st.integers(min_value=2, max_value=3),
    k=st.integers(min_value=2, max_value=3),
    keep_first=st.booleans(),
    cap=st.one_of(st.none(), st.integers(min_value=1, max_value=4)),
)
def test_crossdoc_span_excise_equals_bruteforce(
    spark, docs, plant, n, k, keep_first, cap
):
    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.operators.textindex import (
        cross_doc_span_excise,
    )

    # plant the template span at the FRONT of flagged docs (headers)
    docs = [
        (_XDOC_BOILER + toks) if plant[i] else toks
        for i, toks in enumerate(docs)
    ]
    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(docs)],
        "doc_id bigint, text string",
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_removed"], list(r["clean_tokens"]))
        for r in cross_doc_span_excise(
            df, "doc_id", "text", n=n, min_docs=k, keep_first=keep_first,
            max_excised_per_gram=cap,
        ).collect()
    }

    # brute force: tokenizer mirror (splitting "" yields one empty token)
    toked = [" ".join(toks).split(" ") for toks in docs]
    from collections import defaultdict

    gram_docs: dict[tuple, set] = defaultdict(set)
    gram_occ: dict[tuple, list] = defaultdict(list)
    for i, toks in enumerate(toked):
        for s in range(len(toks) - n + 1):
            g = tuple(toks[s:s + n])
            gram_docs[g].add(i)
            gram_occ[g].append((i, s))
    boiler = {g for g, ds in gram_docs.items() if len(ds) >= k}
    # the excision set per the operator spec: sorted occurrences, minus
    # the keep-first head, sliced to the cap
    excised: set[tuple] = set()
    for g in boiler:
        occ = sorted(gram_occ[g])
        if keep_first:
            occ = occ[1:]
        if cap is not None:
            occ = occ[:cap]
        excised.update(occ)
    for i, toks in enumerate(toked):
        covered: set[int] = set()
        for s in range(len(toks) - n + 1):
            g = tuple(toks[s:s + n])
            if g in boiler and (i, s) in excised:
                covered.update(range(s, s + n))
        want = (
            len(toks),
            len(covered),
            [t for p, t in enumerate(toks) if p not in covered],
        )
        assert got[i] == want, (i, toks, got[i], want, n, k, keep_first)


# ---------------------------------------------------------------------------
# Triangle-count fuzz: the degree-ordered orientation + wedge-close
# pipeline (q270's core) must count each triangle exactly once on random
# graphs — hub-heavy shapes included (star + clique mixtures).
# ---------------------------------------------------------------------------
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    edges=st.sets(
        st.tuples(st.integers(0, 9), st.integers(0, 9)).filter(lambda e: e[0] != e[1]),
        min_size=0,
        max_size=25,
    )
)
def test_triangle_count_equals_bruteforce(spark, edges):
    from itertools import combinations

    from pyspark.sql import functions as F

    # canonicalize to a<b and dedup
    und = sorted({(min(a, b), max(a, b)) for a, b in edges})
    if not und:
        return
    eset = set(und)
    nodes = sorted({n for e in und for n in e})
    want = sum(
        1
        for x, y, z in combinations(nodes, 3)
        if (x, y) in eset and (x, z) in eset and (y, z) in eset
    )

    edf = spark.createDataFrame(und, "a int, b int")
    deg = (
        edf.select(F.col("a").alias("node"))
        .unionAll(edf.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da, db = deg.alias("da"), deg.alias("db")
    e = (
        edf.join(da, F.col("a") == F.col("da.node"))
        .join(db, F.col("b") == F.col("db.node"))
        .select("a", "b", F.col("da.d").alias("ad"), F.col("db.d").alias("bd"))
    )
    fwd = (F.col("ad") < F.col("bd")) | (
        (F.col("ad") == F.col("bd")) & (F.col("a") < F.col("b"))
    )
    orient = e.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.when(fwd, F.col("bd")).otherwise(F.col("ad")).alias("dstd"),
    )
    o1, o2 = orient.alias("o1"), orient.alias("o2")
    wedges = o1.join(o2, F.col("o1.src") == F.col("o2.src")).filter(
        (F.col("o1.dstd") < F.col("o2.dstd"))
        | ((F.col("o1.dstd") == F.col("o2.dstd")) & (F.col("o1.dst") < F.col("o2.dst")))
    ).select(F.col("o1.dst").alias("v"), F.col("o2.dst").alias("w"))
    got = wedges.join(
        orient.select(F.col("src").alias("v"), F.col("dst").alias("w")),
        ["v", "w"],
        "leftsemi",
    ).count()
    assert got == want, (und, got, want)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    texts=st.lists(
        st.text(
            alphabet=st.sampled_from("ab c.!X7 "),
            max_size=40,
        ),
        min_size=2,
        max_size=12,
    ),
    flags=st.lists(st.booleans(), min_size=12, max_size=12),
)
def test_dsir_scores_equal_bruteforce(spark, texts, flags):
    """DSIR hashed-unigram importance scores (q275 core) vs a pure-Python
    scorer that mirrors the spec exactly: md5-bucket tokens, add-1
    smoothed target/raw log-ratios rounded to 6 decimals BEFORE the
    per-doc sum, exact Decimal accumulation."""
    import hashlib
    import math
    import re
    from decimal import Decimal

    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.plans.corpus import (
        dsir_scores,
    )
    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.functions.text import (
        tokens,
    )

    B = 256
    rows = [(i, t, bool(flags[i])) for i, t in enumerate(texts)]

    def tok(t):
        return re.sub(r"[^a-z0-9]+", " ", t.lower()).strip().split(" ")

    def bucket(w):
        return int(hashlib.md5(w.encode()).hexdigest()[:2], 16)

    r_cnt, t_cnt = {}, {}
    for _i, t, is_t in rows:
        for w in tok(t):
            b = bucket(w)
            r_cnt[b] = r_cnt.get(b, 0) + 1
            if is_t:
                t_cnt[b] = t_cnt.get(b, 0) + 1
    rtot = sum(r_cnt.values())
    ttot = sum(t_cnt.values())
    lr = {
        b: Decimal(
            str(
                round(
                    (math.log(t_cnt.get(b, 0) + 1) - math.log(ttot + B))
                    - (math.log(r_cnt[b] + 1) - math.log(rtot + B)),
                    6,
                )
            )
        )
        for b in r_cnt
    }
    want = {
        i: (len(tok(t)), sum((lr[bucket(w)] for w in tok(t)), Decimal(0)))
        for i, t, _is_t in rows
    }

    df = spark.createDataFrame(rows, "doc_id long, text string, is_t boolean")
    docs = df.select("doc_id", "is_t", tokens("text").alias("tk"))
    got = {
        r.doc_id: (r.n_tokens, Decimal(r.sw))
        for r in dsir_scores(docs, F.col("is_t")).collect()
    }
    assert got == want


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    arrays=st.lists(
        st.sets(st.integers(-(2**63), 2**63 - 1), max_size=30), min_size=1, max_size=8
    )
)
def test_basket_pairs_equal_combinations(spark, arrays):
    """The catalog's shared unordered-pair expression (q73, q75, q126,
    q146, q161, q169) against ``itertools.combinations`` on sorted
    distinct int64 arrays, in both struct namings. Every example adds the
    empty and a 1-element array, and all its arrays are evaluated in one
    Spark job."""
    from itertools import combinations

    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.plans.ml import (
        basket_pairs,
    )

    rows = [sorted(s) for s in [set(), {7}, *arrays]]
    df = spark.createDataFrame(list(enumerate(rows)), "id int, parts array<bigint>")
    got = {
        r.id: ([(p.a, p.b) for p in r.ab], [(p.part_a, p.part_b) for p in r.part_ab])
        for r in df.select(
            "id", basket_pairs().alias("ab"), basket_pairs("part_a", "part_b").alias("part_ab")
        ).collect()
    }
    want = {i: (list(combinations(r, 2)),) * 2 for i, r in enumerate(rows)}
    assert got == want
