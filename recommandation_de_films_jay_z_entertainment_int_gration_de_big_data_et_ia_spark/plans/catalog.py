"""Query catalog registry.

Every engine capability (SURVEY.md §2 inventory + LLM-pipeline extensions)
is registered here as a named query: a Spark callable ``(spark, sf_dir) ->
DataFrame`` plus (when SQL-expressible) a DuckDB oracle SQL string that the
driver runs side-by-side at sf0.01 for the correctness gate.

Determinism contract for oracle-checked queries:
- every computed column is aliased identically in Spark and SQL;
- float aggregates go through exact DECIMAL sums, then a deterministic
  cast-to-double + round, so both engines produce bit-identical doubles;
- arrays are surfaced as sorted, delimiter-joined strings;
- timestamps are surfaced as epoch microseconds (BIGINT) or DATE.
"""

from __future__ import annotations

import os
import pkgutil
from collections.abc import Callable
from importlib import import_module

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        assert name not in QUERIES, f"duplicate query name: {name}"
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def query_number(name: str) -> int:
    """``q26_search_bm25`` -> 26: the catalog's order key."""
    return int(name[1:name.index("_")])


def load_all() -> None:
    """Import every plan module so its queries register, then hold
    ``QUERIES`` and ``ORACLES`` in ascending query number (in place:
    callers keep references to both dicts)."""
    for info in pkgutil.iter_modules([os.path.dirname(__file__)]):
        import_module(f"{__package__}.{info.name}")
    for table in (QUERIES, ORACLES):
        entries = sorted(table.items(), key=lambda kv: query_number(kv[0]))
        table.clear()
        table.update(entries)
