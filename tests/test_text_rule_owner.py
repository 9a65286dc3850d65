"""The text normalisation rule (non-alphanumeric runs → one space) has one
home per language: ``functions/text.py`` holds the Spark expression and its
DuckDB SQL twins, ``operators/movieindex.py`` the Python twin. Any other
package module that spells the rule's pattern holds a copy that can drift
from the oracles' spelling."""

from __future__ import annotations

import pathlib

import recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark as pkg

PATTERN = "[^a-z0-9]+"
OWNERS = {"functions/text.py", "operators/movieindex.py"}


def test_normalisation_pattern_lives_only_in_its_owners():
    root = pathlib.Path(pkg.__file__).parent
    spelled = {
        p.relative_to(root).as_posix()
        for p in root.rglob("*.py")
        if PATTERN in p.read_text(encoding="utf-8")
    }
    assert spelled == OWNERS, sorted(spelled - OWNERS)
