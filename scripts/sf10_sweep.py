#!/usr/bin/env python
"""sf10 scale sweep for named queries (round-12 VERDICT task 5: re-measure
the r11 by-construction scale claims — q215 half-pairs, q402 ANN, the PQ
family — on the regenerated sf10 testset).

Protocol = the r10/r11 sweep: same-session sf1 base (min of 2, warm JVM)
then ONE sf10 run per query (each long enough that noise share is small),
with per-run steal%. Appends JSONL rows compatible with
scripts/sf10_ratios.py / scripts/pin_sf10_rows.py:
  {"query":..., "warm":..., "base":..., "steal_warm":...,
   "steal_base":..., "rows":...}

Usage: python scripts/sf10_sweep.py OUT.jsonl q215_common_neighbors ...
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.session import (  # noqa: E402
    get_spark,
)

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF1 = os.path.join(HERE, ".tmp", "sf1")
SF10 = os.path.join(HERE, ".tmp", "sf10")


def _cpu_sample():
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
        vals = [int(v) for v in parts[1:]]
        return (vals[7] if len(vals) > 7 else 0), sum(vals)
    except Exception:  # noqa: BLE001
        return 0, 0


def _steal(b, a):
    ds, dt = a[0] - b[0], a[1] - b[1]
    return round(100.0 * ds / dt, 3) if dt > 0 else 0.0


def main() -> None:
    out_path, names = sys.argv[1], sys.argv[2:]
    spark = get_spark("sf10-sweep")
    spark.range(1).count()
    queries = entrymod.queries()

    def run(name, sf_dir):
        s0, t0 = _cpu_sample(), time.time()
        df = queries[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        return round(time.time() - t0, 3), _steal(s0, _cpu_sample())

    with open(out_path, "a") as out:
        for name in names:
            try:
                b1, sb1 = run(name, SF1)
                b2, sb2 = run(name, SF1)
                base, steal_base = min((b1, sb1), (b2, sb2))
                spark.sparkContext.setJobDescription(f"sf10 {name}")
                warm, steal_warm = run(name, SF10)
                rows = queries[name](spark, SF10).count()
                rec = {
                    "query": name, "warm": warm, "base": base,
                    "steal_warm": steal_warm, "steal_base": steal_base,
                    "rows": rows,
                }
            except Exception as e:  # noqa: BLE001
                rec = {"query": name, "error": str(e)[:300]}
            out.write(json.dumps(rec) + "\n")
            out.flush()
            print(rec, flush=True)


if __name__ == "__main__":
    main()
