"""Each catalog rule that both engines must spell alike has one home, and
any other package module that spells the rule's pattern holds a copy that
can drift from the oracles' spelling.

- text normalisation (non-alphanumeric runs → one space):
  ``functions/text.py`` holds the Spark expression and its DuckDB SQL
  twins, ``operators/movieindex.py`` the Python twin;
- the exact decimal sum (each float measure cast to the one decimal type
  before it is summed): ``functions/exact.py`` holds both languages."""

from __future__ import annotations

import pathlib
import re

import pytest

import recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark as pkg

RULES = {
    "normalisation": (re.escape("[^a-z0-9]+"), {"functions/text.py", "operators/movieindex.py"}),
    "exact_decimal": (r"(?i)decimal\(18,\s*4\)", {"functions/exact.py"}),
}


@pytest.mark.parametrize("pattern, owners", RULES.values(), ids=RULES.keys())
def test_rule_lives_only_in_its_owners(pattern, owners):
    root = pathlib.Path(pkg.__file__).parent
    spelled = {
        p.relative_to(root).as_posix()
        for p in root.rglob("*.py")
        if re.search(pattern, p.read_text(encoding="utf-8"))
    }
    assert spelled == owners, sorted(spelled ^ owners)


# Non-ASCII case mapping: Latin-1 accents, dotted capital I, final sigma,
# sharp s, the DŽ digraph, the Kelvin sign, and an ASCII 'I' beside them.
CASE_SAMPLE = ["\xc0\xc9\xce \u0130I \u03a3\u0391\u03a3 stra\xdfe \u01c4 \u212a", "Istanbul \xc0\xc9\xce",
               "\u01c5 \u01c8 \u038c\u03a3\u039f\u03a3 a\u03a3 b"]


def test_case_mapping_conf_keeps_lower_and_normalize_text(spark):
    """The engine lowers with the JVM's case mapping
    (``spark.sql.icu.caseMappings.enabled`` false in ``session.DEFAULT_CONF``);
    ICU's must give the same strings, or a Spark upgrade split the two
    mappings, or the JVM runs under a locale (Turkish) whose
    ``String.toLowerCase()`` differs."""
    from pyspark.sql import functions as F

    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.functions.text import (
        normalize_text,
    )
    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.session import (
        DEFAULT_CONF,
    )

    key = "spark.sql.icu.caseMappings.enabled"
    assert DEFAULT_CONF[key] == "false"
    df = spark.createDataFrame([(s,) for s in CASE_SAMPLE], "t string")
    got = {}
    try:
        for value in ("true", "false"):
            spark.conf.set(key, value)
            got[value] = [tuple(r) for r in df.select(F.lower("t"), normalize_text("t")).collect()]
    finally:
        spark.conf.set(key, DEFAULT_CONF[key])
    assert got["true"] == got["false"]
    assert got["false"][0] == ("\xe0\xe9\xee i\u0307i \u03c3\u03b1\u03c2 stra\xdfe \u01c6 k", "i i stra e k")
