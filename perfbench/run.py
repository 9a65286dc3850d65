"""Benchmark entry point.

    python3 perfbench/run.py --workload {serve,batch} --seed N --seconds S --trace {0,1}

Run from the root of a checkout. Inputs are generated from ``--seed`` into
``.perfbench/`` under the checkout, the workload runs against the package
in the checkout, outputs are checked outside the timed window, and the
last line of standard output is one JSON object:

    {"correct": bool, "attempted": int, "failed": int, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json, ``--trace 1``
the per-layer metrics. Every run also writes a JSON artifact with the
environment, the detail behind each metric and, when traced, every span,
to ``.perfbench/artifacts/``. A checkout without the package exits with
code 2 and prints no result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import common  # noqa: E402

# Closed-loop throughput stays in the artifact: on 4 shared cores its
# run-to-run spread (IQR / median over ten seeds) reached 0.30 for serve,
# more than any regression bound can absorb; the search median stayed
# within 0.23.
UNITS = {"latency_p50_ms": "ms", "setup_s": "s"}
LAYERS = ("sources", "pipelines", "movierec", "search", "relational", "recommend",
          "dedup", "similarity", "plans", "streaming", "serving", "http_api")
COUNTS = (
    [f"spark.{k}_per_request.{ep}" for k in ("jobs", "tasks")
     for ep in ("search", "recommend", "movie", "health")]
    + ["spark.jobs", "spark.tasks", "spark.failed_tasks", "movierec.expanded_terms",
       "dedup.candidate_pairs", "dedup.verified_pairs"]
)


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit, in BENCHMARK.json order."""
    units = {f"layer.{name}.busy_pct": "%" for name in LAYERS}
    units.update({name: "count" for name in COUNTS})
    units.update({
        "session.cold_start_s": "s", "process.peak_rss_mb": "MB", "dedup.verify_yield": "ratio",
        "sources.bytes_written": "bytes", "sources.write_amplification": "ratio", "trace.spans": "count",
        "trace.throughput": "1/s", "trace.latency_p50_ms": "ms",
    })
    return units


class Ctx:
    def __init__(self, work, seed, seconds, trace, pkg):
        self.work, self.seed, self.seconds, self.trace, self.pkg = work, seed, seconds, trace, pkg
        self.cold_start_s = 0.0
        self.input_bytes = 1


def _layer_metrics(res: dict, tracer_spans, input_bytes: int) -> dict[str, float]:
    """Per-layer busy shares: each layer's span self time over the traced
    window, as a share of the root spans' total time there."""
    lay = res["layers"]
    since = lay["since"]
    spans = [s for s in tracer_spans if s.start >= since and s.end]
    roots = sum(s.end - s.start for s in spans if s.parent is None) or 1.0
    busy = {name: 0.0 for name in LAYERS}
    for s in spans:
        if s.layer in busy:
            busy[s.layer] += s.self_s
    m = {f"layer.{k}.busy_pct": 100.0 * v / roots for k, v in busy.items()}
    m.update({name: 0.0 for name in COUNTS})
    m.update(lay["metrics"])
    m.setdefault("dedup.verify_yield", 0.0)
    written = lay.get("bytes_written", 0)
    m["sources.bytes_written"] = float(written)
    m["sources.write_amplification"] = written / max(1, input_bytes)
    m["trace.spans"] = float(len(tracer_spans))
    m["trace.throughput"] = res["e2e"]["throughput"]
    m["trace.latency_p50_ms"] = res["e2e"]["latency_p50_ms"]
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("serve", "batch"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    try:
        pkg = common.import_package(root)
    except ModuleNotFoundError as e:
        print(f"perfbench: {e}; run from the root of a checkout", file=sys.stderr)
        return 2

    work = os.path.join(root, ".perfbench", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    common.configure_env(work)
    ctx = Ctx(work, args.seed, args.seconds, bool(args.trace), pkg)

    import batch
    import serve

    cpu0 = common.cpu_sample()
    ref0 = common.cpu_ref_s()
    wl = serve if args.workload == "serve" else batch
    res = wl.run(ctx)
    spark = res["spark"]
    steal = common.steal_pct(cpu0, common.cpu_sample())
    cpu_ref = (ref0 + common.cpu_ref_s()) / 2.0

    e2e = dict(res["e2e"])
    e2e["setup_s"] = statistics.median(res["setup_times"])
    peak_rss_mb = common.peak_rss_mb(spark)
    if args.trace:
        tracer_spans = res["tracer"].spans
        metrics = _layer_metrics(res, tracer_spans, ctx.input_bytes)
        metrics["process.peak_rss_mb"] = peak_rss_mb
        metrics["session.cold_start_s"] = ctx.cold_start_s
        units = per_layer_units()
    else:
        tracer_spans = []
        metrics, units = e2e, UNITS
    failed = len(res["mismatches"])
    artifact = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "environment": {**common.environment(spark, steal), "cpu_ref_s": cpu_ref},
        "end_to_end": e2e,
        "session_cold_start_s": ctx.cold_start_s,
        "peak_rss_mb": peak_rss_mb,
        "setup_times_s": res["setup_times"],
        "detail": res["detail"],
        "layers": res.get("layers", {}).get("detail", {}),
        "mismatches": res["mismatches"][:200],
        "spans": [s.__dict__ for s in tracer_spans],
    }
    common.shutdown(spark)
    art_dir = os.path.join(root, ".perfbench", "artifacts")
    os.makedirs(art_dir, exist_ok=True)
    art = os.path.join(art_dir, f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}.json")
    with open(art, "w") as fh:
        json.dump(artifact, fh, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)
    for m in res["mismatches"][:20]:
        print(f"perfbench: check failed: {m}", file=sys.stderr)
    print(f"perfbench: artifact {os.path.relpath(art, root)}", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": int(res["attempted"]),
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
