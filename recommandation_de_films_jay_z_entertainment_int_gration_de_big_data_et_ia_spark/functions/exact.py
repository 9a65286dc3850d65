"""Exact decimal sums: each float measure is cast to ``DECIMAL``, summed
(exactly, so in any fold order), cast to double and, given ``nd``, rounded,
so the Spark plan and the DuckDB oracle agree bit for bit. ``dec`` and
``exact_sum`` build the Spark side, ``dec_sql`` and ``exact_sum_sql`` the
oracle's; windowed, filtered and product sums wrap ``dec``/``dec_sql``."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DECIMAL = "DECIMAL(18,4)"


def dec(c: Column | str) -> Column:
    return (F.col(c) if isinstance(c, str) else c).cast(DECIMAL)


def dec_sql(expr: str) -> str:
    return f"CAST({expr} AS {DECIMAL})"


def exact_sum(c: Column | str, nd: int | None = None) -> Column:
    s = F.sum(dec(c)).cast("double")
    return s if nd is None else F.round(s, nd)


def exact_sum_sql(expr: str, nd: int | None = None) -> str:
    s = f"CAST(SUM({dec_sql(expr)}) AS DOUBLE)"
    return s if nd is None else f"ROUND({s}, {nd})"
