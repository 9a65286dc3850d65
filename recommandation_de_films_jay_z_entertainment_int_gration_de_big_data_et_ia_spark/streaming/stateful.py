"""Custom stateful streaming operators via ``applyInPandasWithState``.

The engine's escape hatch for operators Spark's built-in windows can't
express: arbitrary per-key state machines with Arrow-batched user code.
Demonstrated with a latest-value view per (user, event type) (state =
one bounded record per key, no timeout) whose availableNow drain must
equal the batch window (tests/test_streaming.py).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame


def latest_per_key(events: DataFrame) -> DataFrame:
    """Streaming latest-value materialization (the incremental form of
    batch q170's snapshot compaction — a CDC 'current state' view kept
    up to date as events arrive): per (user_id, event_type) the state is
    the max-(ts, event_id) record seen so far, emitted as an update row
    whenever it advances.

    The event time arrives PRE-CONVERTED to integer micros (engine-side
    unix_micros) so the pandas comparison is exact integer ordering —
    identical to the batch window's (ts DESC, event_id DESC). State per
    key is one (long, long, double) triple — bounded by |keys| at any
    scale. Emission carries ts_us so a multi-batch drain can be
    compacted by max-(ts_us, event_id) on the read side (the standard
    CDC-log read pattern); with one batch the emission IS the state.

    r12 NEGATIVE RESULT (VERDICT r11 task 6, measured and reverted): a
    user-grouped layout (one applyInPandasWithState group per USER,
    parallel per-type ARRAYS as state — ~5x fewer Python calls) measured
    consistently SLOWER in interleaved same-session A/B at sf0.1 (min
    3.24 vs 2.48 s; every paired run agreed): the per-group call
    overhead it saves is smaller than the array-typed state ser/de and
    per-user pandas regrouping it adds. The fine-grained (user, type)
    key keeps scalar state rows — the cheap case for the state store —
    and its behavior is pinned by
    tests/test_streaming.py::test_latest_per_key_multibatch_equals_batch.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update_latest(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        ts_us, event_id, value = (
            (state.get[0], state.get[1], state.get[2]) if state.exists else (-1, -1, None)
        )
        for pdf in pdfs:
            for t, e, v in zip(
                pdf["ts_us"].astype("int64"), pdf["event_id"].astype("int64"), pdf["value"]
            ):
                if (t, e) > (ts_us, event_id):
                    ts_us, event_id, value = int(t), int(e), float(v)
        state.update((int(ts_us), int(event_id), float(value)))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "event_type": [key[1]],
                "last_event_id": [int(event_id)],
                "ts_us": [int(ts_us)],
                "last_value": [float(value)],
            }
        )

    from pyspark.sql import functions as F

    return (
        events.select(
            "user_id",
            "event_type",
            F.unix_micros("ts").alias("ts_us"),
            "event_id",
            "value",
        )
        .groupBy("user_id", "event_type")
        .applyInPandasWithState(
            update_latest,
            outputStructType="user_id long, event_type string, last_event_id long, ts_us long, last_value double",
            stateStructType="ts_us long, event_id long, value double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
