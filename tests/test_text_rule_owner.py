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
