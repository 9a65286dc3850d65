"""Distributed sinks — the replacement for the reference's scalability
cliff (S5/S6: ``toPandas()`` + one synchronous HTTP ``es.index()`` call per
row, elasticsearch_ingest.py:84,112-143 / model.py:18-24).

Every sink here writes from the executors in parallel:
- parquet (canonical, see readers.write_parquet),
- ``foreach_partition_bulk``: the generic pattern for pushing to an
  external system — one connection + batched requests per partition,
  never per row, never through the driver.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

from pyspark.sql import DataFrame


def foreach_partition_bulk(
    df: DataFrame,
    send_batch: Callable[[list[dict[str, Any]]], None],
    batch_size: int = 500,
) -> None:
    """Push rows to an external sink with per-partition batching.

    ``send_batch`` runs on executors — it must construct its own client
    (connections don't serialize). This is the S6 shape done right:
    O(rows/batch_size) requests issued from N executors in parallel,
    versus the reference's O(rows) serial driver-side calls.
    """

    def _handler(rows: Iterator) -> None:
        buf: list[dict[str, Any]] = []
        for row in rows:
            buf.append(row.asDict(recursive=True))
            if len(buf) >= batch_size:
                send_batch(buf)
                buf = []
        if buf:
            send_batch(buf)

    df.foreachPartition(_handler)


