"""Shared helpers: package import, session set-up, memory, CPU steal,
environment record and summary statistics."""

from __future__ import annotations

import os
import statistics
import sys
import time

PKG = "recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark"
SETUP_REPEATS = 3


def import_package(root: str):
    """Import the engine from the checkout at ``root``; raise
    ``ModuleNotFoundError`` when the checkout does not hold it."""
    if not os.path.isfile(os.path.join(root, PKG, "__init__.py")):
        raise ModuleNotFoundError(f"{PKG} not found under {root}")
    if root not in sys.path:
        sys.path.insert(0, root)
    return __import__(PKG)


def configure_env(work: str) -> None:
    """Keep Spark's scratch files inside the run's work directory and size
    local parallelism to this machine. These are the program's own
    environment knobs; no Spark conf is set from the benchmark side."""
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_SUBMIT_OPTS"] = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def dir_bytes(path: str) -> int:
    """Total size of the files under ``path``."""
    return sum(os.path.getsize(os.path.join(d, f)) for d, _s, files in os.walk(path) for f in files)


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def shutdown(spark) -> None:
    """Stop the session and the Spark JVM, and wait for the JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.terminate()
        proc.wait(timeout=60)


def peak_rss_mb(spark) -> float:
    """Peak resident set of this process plus the Spark JVM, in MB."""
    kb = _vm_hwm_kb(os.getpid())
    pid = jvm_pid(spark)
    if pid:
        kb += _vm_hwm_kb(pid)
    return kb / 1024.0


def cpu_sample() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat."""
    try:
        with open("/proc/stat") as fh:
            vals = [int(v) for v in fh.readline().split()[1:]]
    except OSError:
        return 0, 0
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def cpu_ref_s(repeats: int = 5) -> float:
    """Median seconds of a fixed single-thread Python loop: this machine's
    speed at the moment, recorded beside every timing."""
    times = []
    for _ in range(repeats):
        t = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc += i * i
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def steal_pct(a: tuple[int, int], b: tuple[int, int]) -> float:
    dt = b[1] - a[1]
    return 100.0 * (b[0] - a[0]) / dt if dt > 0 else 0.0


def environment(spark, steal: float) -> dict:
    import pyspark

    conf = spark.conf
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "SPARK_DRIVER_MEMORY": os.environ.get("SPARK_DRIVER_MEMORY"),
        "pyspark": pyspark.__version__,
        "java": spark._jvm.System.getProperty("java.version"),
        "python": sys.version.split()[0],
        "cpu_steal_pct": round(steal, 3),
        "spark.sql.shuffle.partitions": conf.get("spark.sql.shuffle.partitions"),
        "spark.sql.adaptive.enabled": conf.get("spark.sql.adaptive.enabled"),
        "spark.sql.adaptive.coalescePartitions.enabled": conf.get(
            "spark.sql.adaptive.coalescePartitions.enabled"),
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum": conf.get(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum", None),
    }


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (``q`` in 0..100)."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, int(round(q / 100.0 * len(s) + 0.5)) - 1))]


def latency_summary(values_s: list[float]) -> dict:
    """Median and the highest of p90/p99 with at least ten samples beyond
    it, in ms, with the sample count."""
    out = {"n": len(values_s)}
    if not values_s:
        return out
    ms = [v * 1000.0 for v in values_s]
    out["p50_ms"] = statistics.median(ms)
    for q in (99, 90):
        if len(ms) * (100 - q) / 100.0 >= 10:
            out[f"p{q}_ms"] = percentile(ms, q)
            break
    return out


def timed_setups(get_spark, setup_once) -> tuple[object, object, list[float]]:
    """Run the workload's set-up ``SETUP_REPEATS`` times, each on a fresh
    SparkContext (the JVM stays up; the first context start is timed apart
    by the caller). Returns the last session, its state and the times."""
    times = []
    spark = state = None
    for _ in range(SETUP_REPEATS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark()
        state = setup_once(spark)
        times.append(time.perf_counter() - t0)
    return spark, state, times
