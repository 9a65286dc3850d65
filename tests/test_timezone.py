"""Session-timezone independence: timestamp queries must hash-match their
DuckDB oracles even when the Spark session runs in a non-UTC timezone.

The driver evaluates the catalog on a VANILLA SparkSession (host-default
timezone, whatever that is), while DuckDB's ``epoch()`` reads a naive
timestamp as UTC. The engine therefore anchors ``events.ts`` to UTC at
the source via the NTZ-arithmetic rebase in ``sources/readers.py``
(``normalize_event_ts``: ``timestampdiff`` from the NTZ epoch +
``timestamp_micros`` — NOT ``to_utc_timestamp``, which would shift the
value through the session timezone) and does all bucketing in epoch
arithmetic, never calendar truncation. These
tests prove that contract by flipping the session timezone to a
DST-observing offset zone and re-running the parity gate for every
timestamp-sensitive query family: raw epoch casts (q101), windowed aggs
(q44), session windows (q46), interval joins (q87), SCD2 versioning
(q102), gap-fill (q118), and the date-typed profile column (q112).
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from tests.parity import compare, duck_connection

TS_QUERIES = (
    "q44_tumbling_window",
    "q46_sessionize",
    "q87_click_attribution",
    "q101_retention_cohorts",
    "q102_scd2_history",
    "q112_column_profile",
    "q118_gapfill_hourly",
    "q373_date_range_agg",
)


@pytest.fixture(scope="module")
def ny_spark(spark):
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    yield spark
    spark.conf.set("spark.sql.session.timeZone", prev)


@pytest.mark.parametrize("name", TS_QUERIES)
def test_parity_holds_in_non_utc_session(ny_spark, sf_dir, name):
    queries, oracles = entrymod.queries(), entrymod.oracle_sql()
    duck = duck_connection(sf_dir)
    problems = compare(
        queries[name](ny_spark, sf_dir), duck.execute(oracles[name]).df(), name
    )
    assert not problems, problems
