"""SparkSession factory tuned for the engine.

The defaults here encode the scale posture (SURVEY.md §7): AQE on for
runtime coalesce / skew-join handling, Arrow on for any pandas boundary,
UTC session time zone so timestamp semantics are deployment-independent,
and a shuffle-partition count sized for the local test harness (the same
code on a 1000-executor cluster would raise ``spark.sql.shuffle.partitions``
or rely on AQE coalescing, which is already enabled).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CONF: dict[str, str] = {
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # Shuffle-width headroom (round-10 sf10 audit finding): AQE can
    # COALESCE reducers below the initial number but never split above
    # it, so a fixed 32 caps every aggregation at 32 reducers no matter
    # the data — at sf10 the high-cardinality aggs (q300's candidate
    # itemsets, q267's per-doc n-gram frames) hit per-task sort-spill
    # and went super-linear (32x/15x at 10x data). 128 initial
    # partitions give the decade headroom while AQE coalesces small
    # shuffles right back down. 128, not 256: each map task writes one
    # shuffle block per initial partition, and the A/B on the catalog's
    # small iterative queries showed 256 paying ~2x on sub-second
    # shuffles (q244 1.70->0.82 s, q69 1.15->0.72 s at 128, within 8%
    # of the old 32) while q300 at sf10 got FASTER at 128 (275->147 s;
    # fewer, larger, still-unspilled reducers). The "size reducers to
    # the data, not the conf" posture of a 1000-executor 100 TB
    # deployment — there you'd set this O(total cores x 2-3).
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum": "128",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # lower()/upper()/initcap() by the JVM's String case mapping, as in
    # Spark 3.5, not ICU's: the first ICU call in a JVM builds ICU's
    # case-map table (CollationAwareUTF8String.<clinit>), which held one
    # task thread 1.1-1.2 s in the batch pass's first lower()
    # (exact_dedup_groups); per-row speed is the same either way. The two
    # lower() alike on the non-ASCII sample that
    # tests/test_text_rule_owner.py pins, but only under a JVM default
    # locale without special casing rules: String.toLowerCase() follows the
    # default locale, so under a Turkish one 'I' lowers to dotless 'ı'.
    # initcap(), which no query calls, differs on 'İ' and a lone 'ß'.
    "spark.sql.icu.caseMappings.enabled": "false",
    # Broadcast joins for dimension tables; 32 MB is conservative even for
    # the sf0.1 dims and far below executor memory on a real cluster.
    "spark.sql.autoBroadcastJoinThreshold": str(32 * 1024 * 1024),
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
}


def get_spark(app_name: str = "jayz-engine", extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default 32 to match
    the driver harness); an externally provided master wins.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
        .appName(app_name)
        # takes effect only when this call creates the JVM (driver memory
        # is a launch-time setting); 8g of the 128 GiB harness
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    conf = dict(DEFAULT_CONF)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
