"""Physical-plan and behavior guards for the q171-q192 additions (in
the topic modules under plans/: stats, cohorts, resolution, textstats,
similarity, dedup, tables, core, timeseries and forecasting): the scale
properties each docstring claims must be visible in the executed plan,
not just asserted in prose."""

from __future__ import annotations

import __spark_entry__ as entrymod

QUERIES = entrymod.queries()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString() + df._jdf.queryExecution().toString()


def test_q171_fuzzy_join_is_blocked_not_cartesian(spark, sf_dir):
    plan = _plan(QUERIES["q171_fuzzy_blocked_join"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan  # equi-join on the block key


def test_q176_corr_matrix_single_scan_no_expand(spark, sf_dir):
    df = QUERIES["q176_corr_matrix"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # one aggregate over ONE lineitem scan (a union of per-pair selects
    # would re-plan the agg subtree once per arm -> 6 scans)
    assert plan.count("FileScan") == 1
    assert "Expand" not in plan


def test_q177_stats_frame_broadcasts(spark, sf_dir):
    plan = _plan(QUERIES["q177_int8_quantized_ann"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_q178_cms_estimate_never_undercounts(spark, sf_dir):
    rows = QUERIES["q178_count_min_sketch"](spark, sf_dir).collect()
    assert rows, "CMS audit returned no rows"
    assert all(r["est"] >= r["exact"] for r in rows)
    assert all(r["overcount"] == r["est"] - r["exact"] for r in rows)


def test_q185_vocab_joins_broadcast(spark, sf_dir):
    plan = _plan(QUERIES["q185_vocab_coverage"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_q180_pareto_prefix_is_minimal_and_sorted(spark, sf_dir):
    rows = QUERIES["q180_pareto_coverage"](spark, sf_dir).orderBy("rnk").collect()
    assert rows, "empty Pareto set"
    # ranks are the contiguous prefix 1..k and shares are nondecreasing
    assert [r["rnk"] for r in rows] == list(range(1, len(rows) + 1))
    shares = [r["cum_share"] for r in rows]
    assert all(a <= b for a, b in zip(shares, shares[1:]))
    # every row but the last starts below the 0.8 target (minimality)
    assert all(s < 0.8 or i == len(shares) - 1 for i, s in enumerate(shares[:-1]))
    assert shares[-1] >= 0.8 or len(shares) == 0


def test_q181_gini_in_unit_interval(spark, sf_dir):
    row = QUERIES["q181_gini_revenue"](spark, sf_dir).collect()[0]
    assert 0.0 <= row["gini"] <= 1.0


def test_q183_cusum_resets_at_zero_floor(spark, sf_dir):
    rows = QUERIES["q183_cusum_drift"](spark, sf_dir).collect()
    assert rows and all(r["cusum"] >= 0.0 for r in rows)


def test_q189_keeps_at_most_n_versions(spark, sf_dir):
    df = QUERIES["q189_keep_last_n"](spark, sf_dir)
    counts = df.groupBy("user_id", "event_type").count().collect()
    assert counts and all(r["count"] <= 3 for r in counts)


def test_q186_containment_bounds_jaccard(spark, sf_dir):
    """max(containment_a, containment_b) >= jaccard for every pair —
    the algebraic reason the asymmetric metric catches subset dups."""
    cont = {
        (r["id_a"], r["id_b"]): max(r["containment_a"], r["containment_b"])
        for r in QUERIES["q186_containment_pairs"](spark, sf_dir).collect()
    }
    jac = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in QUERIES["q33_dedup_jaccard_verify"](spark, sf_dir).collect()
    }
    assert cont.keys() == jac.keys()
    # 1e-4 slack: both sides round to 4 decimals independently
    assert all(cont[k] >= jac[k] - 1e-4 for k in cont)


def test_q195_bloom_has_no_false_negatives(spark, sf_dir):
    row = QUERIES["q195_bloom_semi_join"](spark, sf_dir).collect()[0]
    assert row["n_candidates"] >= row["n_exact"]  # bloom guarantee
    assert 0.0 <= row["fp_rate"] <= 1.0
    assert row["n_bits_set"] <= 4096


def test_q193_null_bucket_matches(spark, sf_dir):
    rows = {r["join_key"]: r for r in QUERIES["q193_null_safe_join"](spark, sf_dir).collect()}
    assert "<null>" in rows and rows["<null>"]["is_null_bucket"]
    assert rows["<null>"]["n_matched"] > 0  # a plain = join would drop these


def test_q238_indexed_phrase_equals_like_scan(spark, sf_dir):
    """The positional-postings phrase hits must equal the q22-style
    LIKE-scan predicate for every phrase in the batch (including the
    zero-hit phrase)."""
    from pyspark.sql import functions as F

    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.functions.text import (
        normalize_text,
    )
    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.plans.search import (
        _PHRASE_BATCH,
    )
    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.sources.readers import (
        load_table,
    )

    hits = {}
    for r in QUERIES["q238_phrase_indexed_batch"](spark, sf_dir).collect():
        hits.setdefault(r["phrase"], set()).add(r["doc_id"])
    docs = load_table(spark, sf_dir, "documents")
    padded = F.concat(F.lit(" "), normalize_text(F.col("text")), F.lit(" "))
    for ph in _PHRASE_BATCH:
        like = {
            r["doc_id"]
            for r in docs.filter(padded.contains(f" {ph} ")).select("doc_id").collect()
        }
        assert hits.get(ph, set()) == like, ph


def test_q250_slop0_equals_contiguous_phrase(spark, sf_dir):
    """phrase_search_slop_batch(slop=0) must be EXACTLY the contiguous
    q238 anchor-intersection semantics on the same phrase batch, and
    slop=k hits must be a superset of slop=0 hits (monotone in slop)."""
    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.operators.textindex import (
        build_positional_postings,
        phrase_search_batch,
        phrase_search_slop_batch,
    )
    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.plans.search import (
        _PHRASE_BATCH,
        _SLOP_PHRASES,
    )
    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.sources.readers import (
        load_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    postings = build_positional_postings(docs, "doc_id", "text")
    phrases = sorted(set(_PHRASE_BATCH) | set(_SLOP_PHRASES))
    contiguous = {(r["phrase"], r["doc_id"]) for r in phrase_search_batch(postings, phrases).collect()}
    slop0 = {(r["phrase"], r["doc_id"]) for r in phrase_search_slop_batch(postings, phrases, slop=0).collect()}
    assert slop0 == contiguous
    slop2 = {(r["phrase"], r["doc_id"]) for r in phrase_search_slop_batch(postings, phrases, slop=2).collect()}
    assert slop0 <= slop2
    assert slop2 > slop0  # on this corpus slop=2 must actually widen hits


def test_q251_fuzzy_bounds_prefix_join_and_bite(spark, sf_dir):
    """prefix_length>0 must turn candidate generation into an equi-join
    on the shared prefix (BroadcastHashJoin on __pfx — the automaton-
    pruning analog), and max_expansions must actually change results on
    this corpus ('src1' has ~20 source-vocab terms within distance 1)."""
    from pyspark.sql import functions as F

    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.operators.search import (
        fuzzy_expand_terms,
    )
    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.operators.textindex import (
        build_multimatch_index,
    )
    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.sources.readers import (
        load_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    vocab, _stats = build_multimatch_index(docs, "doc_id", {"source": 3.0, "text": 1.0})
    vocab = vocab.withColumn(
        "f", F.when(F.col("field") == "source", 0).otherwise(1)
    ).drop("field")

    bounded = fuzzy_expand_terms(vocab, ["src1"], prefix_length=1, max_expansions=3)
    plan = bounded._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "__pfx" in plan, plan[:2000]

    rows = bounded.collect()
    assert len(rows) == 3
    assert {r["term"] for r in rows} == {"src1", "src0", "src10"}

    unbounded = fuzzy_expand_terms(vocab, ["src1"], prefix_length=0, max_expansions=None)
    assert unbounded.count() > 3  # the bound genuinely bit


def test_fuzzy_prefix_clamps_to_short_query_terms(spark):
    """Lucene clamps prefix_length to the query term's own length: a
    2-char query term with prefix_length=3 must still meet longer vocab
    terms sharing its full text as a prefix (round-5 ADVICE: the
    unclamped join excluded them because substring('abcd',1,3) != 'ab')."""
    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.operators.search import (
        fuzzy_expand_terms,
    )

    vocab = spark.createDataFrame(
        [(0, "ab", 7), (0, "abc", 5), (0, "abcd", 4), (0, "abz", 2), (0, "zbc", 9)],
        "f int, term string, df int",
    )
    # Query 'abc' (len 3, AUTO distance 1) with prefix_length=5: the
    # effective prefix clamps to 3 chars, so 'abcd' (distance 1, shares
    # the full 'abc' prefix) must match — the unclamped join compared
    # substring('abcd',1,5)='abcd' to 'abc' and dropped it. 'abz'
    # (distance 1 but edits INSIDE the frozen prefix) and 'zbc' stay out.
    got = {
        r["term"]
        for r in fuzzy_expand_terms(
            vocab, ["abc"], fuzzy=True, prefix_length=5, max_expansions=None
        ).collect()
    }
    assert got == {"abc", "abcd"}

    # Mixed-length query batch: each term buckets by ITS clamped length
    # (one vocab bucketing per distinct clamp, unioned). 'ab' clamps to
    # 2 (AUTO distance 0 -> exact only); 'abc' keeps the 3-char bucket.
    got2 = {
        (r["term"])
        for r in fuzzy_expand_terms(
            vocab, ["abc", "ab"], fuzzy=True, prefix_length=3, max_expansions=None
        ).collect()
    }
    assert got2 == {"ab", "abc", "abcd"}


def test_round5_plan_shapes(spark, sf_dir):
    """Pin the claimed physical shapes of the round-5 entries:
    - q255 composite pagination: ONE exchange (partial agg) and a
      TakeOrderedAndProject page cut — no global sort;
    - q257 field collapse: WindowGroupLimit (map-side rank cut);
    - q250 sloppy phrase: no nested-loop/cartesian join anywhere — the
      probe is a broadcast equi-join, shuffle bounded by term hits."""
    plans = {
        n: QUERIES[n](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        for n in (
            "q250_phrase_slop_batch",
            "q255_composite_agg_pagination",
            "q257_field_collapse",
        )
    }
    p255 = plans["q255_composite_agg_pagination"]
    assert "TakeOrderedAndProject" in p255
    assert p255.count("Exchange") == 1
    assert "WindowGroupLimit" in plans["q257_field_collapse"]
    p250 = plans["q250_phrase_slop_batch"]
    assert "BroadcastNestedLoopJoin" not in p250 and "CartesianProduct" not in p250
    assert "BroadcastHashJoin" in p250 or "BroadcastExchange" in p250


def test_q240_dynamic_sessions_refine_fixed_sessions(spark, sf_dir):
    """Every dynamic gap (10/30/15 min) is <= q46's fixed 30 min, so the
    per-event intervals shrink and sessions can only SPLIT further —
    per-user dynamic session count must be >= the fixed count, with total
    event counts conserved."""
    q46 = QUERIES["q46_sessionize"](spark, sf_dir).collect()
    q240 = QUERIES["q240_dynamic_sessions"](spark, sf_dir).collect()

    def per_user(rows):
        agg = {}
        for r in rows:
            n, ev = agg.get(r["user_id"], (0, 0))
            agg[r["user_id"]] = (n + 1, ev + r["n_events"])
        return agg

    a46, a240 = per_user(q46), per_user(q240)
    assert a46.keys() == a240.keys()
    for u in a46:
        assert a240[u][0] >= a46[u][0], u  # refinement
        assert a240[u][1] == a46[u][1], u  # conservation


def test_nested_vs_object_semantics_differ(spark, sf_dir):
    """The ES nested/object distinction must be REAL on this data: an
    object-mapping query (conditions satisfiable by DIFFERENT children)
    matches strictly more orders than the nested query (both conditions
    on the SAME lineitem), and every nested match is an object match."""
    from pyspark.sql import functions as F

    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.operators.search import (
        nest_children,
        nested_match,
    )
    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.sources.readers import (
        load_table,
    )

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    nested = nest_children(
        orders, lineitem, "o_orderkey", "l_orderkey",
        ["l_linenumber", "l_quantity", "l_returnflag"], out="items",
    )
    pred = lambda it: (it["l_returnflag"] == "R") & (it["l_quantity"] > 45.0)  # noqa: E731
    strict = {
        r["o_orderkey"] for r in nested_match(nested, "items", pred).collect()
    }
    # object mapping: fields flatten, each condition independently
    loose = {
        r["o_orderkey"]
        for r in nested.filter(
            F.exists("items", lambda it: it["l_returnflag"] == "R")
            & F.exists("items", lambda it: it["l_quantity"] > 45.0)
        ).collect()
    }
    assert strict <= loose
    assert strict < loose, "corpus too small to distinguish nested vs object"
    # childless parents carry an EMPTY array (ES doc with no nested objects)
    childless = nested.filter(F.size("items") == 0).count()
    only_parents = orders.join(
        lineitem, orders["o_orderkey"] == lineitem["l_orderkey"], "left_anti"
    ).count()
    assert childless == only_parents


def test_hierarchy_queries_use_semi_joins(spark, sf_dir):
    """q264/q265 must plan as LeftSemi joins (the has_child/has_parent
    shape claim) with the child aggregation below the join."""
    p264 = _plan(QUERIES["q264_has_child"](spark, sf_dir))
    assert "LeftSemi" in p264, p264[:3000]
    p265 = _plan(QUERIES["q265_has_parent"](spark, sf_dir))
    assert "LeftSemi" in p265, p265[:3000]


def test_slop_transpositions_cost_two(spark):
    """ES's documented rule: a transposed adjacent pair matches at
    slop>=2 and not below; ordered hits are unchanged by enabling
    transpositions; repeated-term phrases stay on the ordered subset."""
    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.operators.textindex import (
        phrase_search_slop_batch,
    )

    # doc 0: exact order; doc 1: transposed; doc 2: transposed + 1 gap
    docs = {0: "the quick fox jumps", 1: "the fox quick jumps", 2: "fox a quick"}
    rows = [
        (d, p + 1, t) for d, txt in docs.items() for p, t in enumerate(txt.split())
    ]
    postings = spark.createDataFrame(rows, "doc_id bigint, pos int, term string")
    ph = "quick fox"

    def hits(slop, transpositions=True):
        return {
            r["doc_id"]
            for r in phrase_search_slop_batch(
                postings, [ph], slop=slop, transpositions=transpositions
            ).collect()
        }

    assert hits(0) == {0}
    assert hits(1) == {0}          # a swap costs 2, not 1
    assert hits(2) == {0, 1}       # transposition admitted at slop=2
    assert hits(3) == {0, 1, 2}    # swap + one extra gap = 3
    # ordered-only mode is the previous semantics
    assert hits(2, transpositions=False) == {0}
    # ordered hits never disappear when transpositions turn on
    for slop in (0, 1, 2, 3):
        assert hits(slop, transpositions=False) <= hits(slop)
    # repeated-term phrase routes to the ordered path: "fox a quick a"
    # contains 'a quick a'... use a doc where only out-of-order would hit
    rep_rows = [(9, p + 1, t) for p, t in enumerate("b a c a b".split())]
    rep_postings = spark.createDataFrame(rep_rows, "doc_id bigint, pos int, term string")
    rep = {
        r["doc_id"]
        for r in phrase_search_slop_batch(
            rep_postings, ["a b a"], slop=2, transpositions=True
        ).collect()
    }
    # ordered certificate a(2) b(5)? needs a after b: a@4 < b@5 no third a
    # -> positions a=2, b=5, a=? none after 5: no ordered match
    assert rep == set()
