"""The catalog owns its order: ``queries()`` and ``oracle_sql()`` list
their entries by ascending query number, whatever order the plan modules
were imported in, and no plan module imports another just to load it."""

from __future__ import annotations

import ast
import json
import os
import subprocess
import sys

import __spark_entry__ as entrymod
from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.plans import (
    catalog,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PLANS = os.path.dirname(os.path.abspath(catalog.__file__))
PLANS_PKG = catalog.__package__

_ORDER_AFTER = """
import importlib, json, pkgutil, sys
first = sys.argv[1:]
if first == ["*"]:
    plans = importlib.import_module("{plans}")
    first = sorted((m.name for m in pkgutil.iter_modules(plans.__path__)), reverse=True)
for name in first:
    importlib.import_module("{plans}." + name)
from {plans} import catalog
catalog.load_all()
print(json.dumps([list(catalog.QUERIES), list(catalog.ORACLES)]))
"""


def test_queries_in_ascending_query_number():
    for names in (list(entrymod.queries()), list(entrymod.oracle_sql())):
        numbers = [catalog.query_number(n) for n in names]
        assert numbers == sorted(numbers)
        assert len(set(numbers)) == len(numbers)
    assert len(entrymod.queries()) == 400


def _order_after(*first: str) -> list:
    proc = subprocess.run(
        [sys.executable, "-c", _ORDER_AFTER.format(plans=PLANS_PKG), *first],
        capture_output=True, text=True, timeout=300, cwd=ROOT)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout)


def test_order_does_not_depend_on_import_order():
    want = [list(entrymod.queries()), list(entrymod.oracle_sql())]
    assert _order_after("timeseries", "dedup") == want
    assert _order_after("*") == want


def test_plan_modules_import_only_names_they_use():
    """A plan module that imports another imports names it uses, never
    the module alone for its registration side effect."""
    bad = []
    for fname in sorted(os.listdir(PLANS)):
        if not fname.endswith(".py"):
            continue
        tree = ast.parse(open(os.path.join(PLANS, fname)).read())
        used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and node.level == 1:
                for alias in node.names:
                    if (alias.asname or alias.name) not in used:
                        bad.append(f"{fname}: from .{node.module or ''} import {alias.name}")
    assert bad == []
