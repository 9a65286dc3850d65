"""query_string (q382): parser unit tests, the grammar-subset
equivalence to q332_simple_query_string required by the round-8 review,
and a randomized dual-backend property — every generated query must
produce hash-identical (doc_id, score) sets on Spark and DuckDB, since
both executions compile from the SAME AST."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.functions.text import (
    TOKS_SQL,
    tokens,
)
from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.operators.querystring import (
    And,
    Boost,
    KeywordField,
    Not,
    Or,
    Phrase,
    Term,
    TokenField,
    compile_query_string,
    parse_query_string,
)
from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.sources.readers import (
    load_table,
)
from tests.parity import compare, duck_connection

FIELDS = {
    "text": TokenField("toks"),
    "lang": KeywordField("lang"),
    "source": KeywordField("source"),
}


# ---------------------------------------------------------------------------
# Parser unit tests: precedence, grouping, boosts, fields, errors.
# ---------------------------------------------------------------------------
def test_precedence_not_and_or():
    # a OR b AND NOT c  ==  a OR (b AND (NOT c))
    ast = parse_query_string("a OR b AND NOT c")
    assert ast == Or((Term("a"), And((Term("b"), Not(Term("c"))))))


def test_implicit_adjacency_is_or():
    assert parse_query_string("a b") == Or((Term("a"), Term("b")))
    # Lucene: 'a b AND c' == a OR (b AND c)
    assert parse_query_string("a b AND c") == Or(
        (Term("a"), And((Term("b"), Term("c"))))
    )


def test_grouping_overrides_precedence():
    ast = parse_query_string("(a OR b) AND c")
    assert ast == And((Or((Term("a"), Term("b"))), Term("c")))


def test_boosts_and_fields():
    ast = parse_query_string('lang:en^2 source:src1 "hash join"^3 x^0.5')
    assert ast == Or(
        (
            Term("en", "lang", 2.0),
            Term("src1", "source"),
            Phrase(("hash", "join"), None, 3.0),
            Term("x", None, 0.5),
        )
    )


def test_group_boost_and_operator_aliases():
    ast = parse_query_string("(a && !b)^2 || c")
    assert ast == Or((Boost(And((Term("a"), Not(Term("b")))), 2.0), Term("c")))


def test_terms_lowercased_single_word_phrase_folds_to_term():
    assert parse_query_string("HASH") == Term("hash")
    assert parse_query_string('"hash"') == Term("hash")


@pytest.mark.parametrize(
    "bad", ["", "AND", "(a", 'lang:"en fr"', "a )", '""', "nope:x"]
)
def test_rejects_malformed(bad):
    with pytest.raises(ValueError):
        if bad in ('lang:"en fr"', "nope:x"):
            compile_query_string(bad, FIELDS, "text", "spark")
        else:
            parse_query_string(bad)


def test_word_starting_with_operator_prefix_is_a_term():
    # 'android' must not lex as AND + 'roid'; uppercase op needs \b too
    assert parse_query_string("android") == Term("android")
    assert parse_query_string("ANDROID") == Term("android")


# ---------------------------------------------------------------------------
# Review-required subset equivalence: the grammar form of q332's fixed
# simple_query_string input must select the same docs with the same
# scores (q332 score = tf(fast) + phrase_tf as BIGINT; here the same
# two matching clauses at boost 1.0, NOT contributing 0).
# ---------------------------------------------------------------------------
def test_equivalent_to_simple_query_string(spark, sf_dir):
    q332 = entrymod.queries()["q332_simple_query_string"](spark, sf_dir)
    expected = {
        (r["doc_id"], float(r["score"])) for r in q332.collect()
    }

    m, s = compile_query_string(
        'fast AND NOT slow AND "hash join"', FIELDS, "text", "spark"
    )
    t = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", tokens("text").alias("toks")
    )
    got = (
        t.filter(F.expr(m))
        .select("doc_id", F.expr(s).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(20)
    )
    assert {(r["doc_id"], float(r["score"])) for r in got.collect()} == expected


# ---------------------------------------------------------------------------
# Randomized dual-backend property: generate query strings over the
# corpus vocabulary, execute the spark and duck compilations of the
# same string, and require identical (doc_id, score) results. Seeded —
# deterministic across runs.
# ---------------------------------------------------------------------------
_VOCAB = ["hash", "merge", "scan", "fast", "slow", "key", "sort", "join"]
_KEYWORDS = [("lang", ["en", "fr", "zh"]), ("source", ["src1", "src7"])]


def _rand_query(rng: random.Random, depth: int = 0) -> str:
    roll = rng.random()
    if depth >= 2 or roll < 0.45:
        if rng.random() < 0.25:
            fld, vals = rng.choice(_KEYWORDS)
            base = f"{fld}:{rng.choice(vals)}"
        elif rng.random() < 0.3:
            w1, w2 = rng.sample(_VOCAB, 2)
            base = f'"{w1} {w2}"'
        else:
            base = rng.choice(_VOCAB)
        if rng.random() < 0.3:
            base += f"^{rng.choice([2, 3])}"
        return base
    a = _rand_query(rng, depth + 1)
    b = _rand_query(rng, depth + 1)
    op = rng.choice(["AND", "OR", "AND NOT", "OR NOT", ""])
    q = f"({a} {op} {b})" if op else f"({a} {b})"
    if rng.random() < 0.2:
        q += f"^{rng.choice([2, 3])}"
    return q


def test_random_queries_dual_backend_parity(spark, sf_dir):
    rng = random.Random(20260815)
    duck = duck_connection(sf_dir)
    t = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", tokens("text").alias("toks")
    )
    t = t.localCheckpoint(eager=True)  # 12 probes over one tiny frame
    for trial in range(12):
        q = _rand_query(rng)
        ms, ss = compile_query_string(q, FIELDS, "text", "spark")
        md, sd = compile_query_string(q, FIELDS, "text", "duck")
        got = t.filter(F.expr(ms)).select(
            "doc_id", F.round(F.expr(ss), 4).alias("score")
        )
        want = duck.execute(
            f"WITH t AS (SELECT doc_id, lang, source, {TOKS_SQL} AS toks "
            f"FROM documents) "
            f"SELECT doc_id, ROUND({sd}, 4) AS score FROM t WHERE {md}"
        ).df()
        problems = compare(got, want, f"trial{trial}:{q}")
        assert not problems, (q, problems)


# ---------------------------------------------------------------------------
# Pure-parser edge cases (no Spark session needed).
# ---------------------------------------------------------------------------
def test_nested_groups_and_not_chains():
    ast = parse_query_string("NOT NOT a AND (b OR (c AND NOT d))")
    assert ast == And(
        (
            Not(Not(Term("a"))),
            Or((Term("b"), And((Term("c"), Not(Term("d")))))),
        )
    )


def test_boost_composes_multiplicatively_on_terms():
    # a boosted group around a single boosted term folds to one term
    # with the product boost — same score either way
    ast = parse_query_string("(a^2)^3")
    assert ast == Term("a", None, 6.0)


def test_not_binds_tighter_than_boosted_group():
    ast = parse_query_string("NOT (a b)^2")
    assert ast == Not(Boost(Or((Term("a"), Term("b"))), 2.0))


def test_fractional_boost_renders_as_double_cast():
    _, s = compile_query_string("a^0.5", FIELDS, "text", "spark")
    assert "CAST(0.5 AS DOUBLE)" in s


def test_field_scoped_group_is_rejected_not_mangled():
    # Lucene's field:(a OR b) is outside the documented grammar — it
    # must fail loudly, not silently parse as something else
    with pytest.raises(ValueError):
        parse_query_string("lang:(en OR fr)")
