#!/usr/bin/env python
"""Check that a refactor leaves the catalog's order, oracles and plans alone.

Snapshot a checkout (its ``queries()`` order, its ``oracle_sql()``
strings and every query's executed plan at sf0.001, with per-run ids
normalised away):

    python scripts/plan_identity.py <repo> <out.json>

Compare two snapshots (order, oracles byte-identical and after
whitespace squashing, plans):

    python scripts/plan_identity.py <before.json> <after.json>

The comparison exits 1 when the order differs, when an oracle differs
after squashing, or when a plan differs outside ``KNOWN_VARYING``, and 0
otherwise. Take each snapshot in its own process; the snapshot puts
``<repo>`` first on the driver's and the Python workers' import path, so
any working directory will do.
"""

from __future__ import annotations

import json
import os
import re
import sys

SF_DIR = "/root/testdata/sf0.001"
# plans that differ between two runs of the same code: ALS lambda ids,
# per-process table and directory names
KNOWN_VARYING = frozenset({"q50_als_recommend", "q144_bucketed_join", "q153_shard_manifest"})
# ``_\d+`` goes first: a lambda variable (``x_157#1234``) carries a
# per-process number that no longer ends at a word boundary once its
# ``#1234`` has become ``N``
_IDS = [r"_\d+\b", r"#\d+L?", r"RDD\[\d+\]", r"\[\d+\] at ", r"plan_id=\d+"]


def snapshot(repo: str, out: str) -> None:
    repo = os.path.abspath(repo)
    sys.path.insert(0, repo)
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [repo, os.environ.get("PYTHONPATH")]))
    import __spark_entry__ as m
    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.session import (
        get_spark,
    )

    spark, plans = get_spark("plan-identity"), {}
    # untruncated scan metadata: ids differ in length between runs, so a
    # truncated filter list would cut at different places
    spark.conf.set("spark.sql.maxMetadataStringLength", 1_000_000)
    for name, q in m.queries().items():
        try:
            p = q(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # noqa: BLE001
            p = f"ERROR {type(e).__name__}: {e}"[:300]
        for pat in _IDS:
            p = re.sub(pat, "N", p)
        plans[name] = p
    with open(out, "w") as fh:
        json.dump({"order": list(m.queries()), "oracles": m.oracle_sql(), "plans": plans}, fh)


def squash(sql: str) -> str:
    """Drop whitespace outside '...' literals ('' escapes stay inside)."""
    parts = re.split(r"('(?:[^']|'')*')", sql)
    return "".join(p if i % 2 else re.sub(r"\s+", "", p) for i, p in enumerate(parts))


def compare(before: str, after: str) -> int:
    """Print the differences; 1 if any of them fails the check, else 0."""
    a, b = (json.load(open(p)) for p in (before, after))
    if a["order"] == b["order"]:
        print(f"order: identical ({len(a['order'])} queries)")
    elif sorted(a["order"]) == sorted(b["order"]):
        i = next(i for i, (x, y) in enumerate(zip(a["order"], b["order"])) if x != y)
        print(f"order: same {len(a['order'])} names, first moved at position {i}: "
              f"{a['order'][i]} before, {b['order'][i]} after")
    else:
        print(f"order: names differ; only before {sorted(set(a['order']) - set(b['order']))}, "
              f"only after {sorted(set(b['order']) - set(a['order']))}")
    oa, ob = a["oracles"], b["oracles"]
    both = sorted(set(oa) & set(ob))
    same = sum(oa[k] == ob[k] for k in both)
    differ = [k for k in both if squash(oa[k]) != squash(ob[k])]
    print(f"oracles: {len(oa)} before, {len(ob)} after; {same} byte-identical; "
          f"{len(both) - len(differ)}/{len(both)} identical after squashing")
    oracle_diff = sorted(set(oa) ^ set(ob)) + differ
    for k in oracle_diff:
        print(f"  oracle differs: {k}")
    pa, pb = a["plans"], b["plans"]
    diff = [k for k in sorted(set(pa) | set(pb)) if pa.get(k) != pb.get(k)]
    print(f"plans: {len(pa) - len(diff)}/{len(pa)} identical")
    for k in diff:
        print(f"  plan differs: {k}{' (known to vary)' if k in KNOWN_VARYING else ''}")
    return int(a["order"] != b["order"] or bool(oracle_diff) or bool(set(diff) - KNOWN_VARYING))


if __name__ == "__main__":
    first, second = sys.argv[1:3]
    sys.exit(snapshot(first, second) if os.path.isdir(first) else compare(first, second))
