"""``ttl_counter``: a per-key TTL counter on applyInPandasWithState.

The reference's TTL/expiration semantics map to per-key state with a timeout
(SURVEY §2.8: "TTL ≈ per-key state timeout").  ``ttl_counter`` keeps a live
per-key event counter and expires the key's state when no event arrives
within ``ttl_seconds`` of event time, emitting a final tombstone row — the
streaming analog of the late-TTL convictor deciding a key aged out.

State size is O(distinct live keys), not O(events); the watermark bounds how
long a silent key is retained, so state cannot grow without bound.
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BooleanType,
    LongType,
    StructField,
    StructType,
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType(), False),
        StructField("epoch_start_ms", LongType(), False),  # first event of this state epoch
        StructField("n_events", LongType(), False),
        StructField("last_writetime", LongType(), True),  # µs
        StructField("expired", BooleanType(), False),
    ]
)

STATE_SCHEMA = StructType(
    [
        StructField("epoch_start_ms", LongType(), False),
        StructField("n_events", LongType(), False),
        StructField("last_ts_ms", LongType(), False),
    ]
)


def ttl_counter(
    events: DataFrame,
    ttl_seconds: int,
    ts_col: str = "ts",
    key_col: str = "user_id",
    watermark: str = "1 hour",
) -> DataFrame:
    """Per-key running counter with event-time TTL expiry.

    Emits an update row per key per batch (expired=False) and one tombstone
    (expired=True) when the key's state times out — i.e. the watermark passed
    last_event_time + ttl.
    """

    def update(
        key: Tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterable[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:
            epoch, n, last_ms = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "epoch_start_ms": [epoch],
                    "n_events": [n],
                    "last_writetime": [last_ms * 1000],
                    "expired": [True],
                }
            )
            return
        epoch, n, last_ms = state.get if state.exists else (0, 0, 0)
        for pdf in batches:
            n += len(pdf)
            # pandas timestamps -> epoch ms (event time)
            ts_ns = pd.to_datetime(pdf[ts_col]).astype("int64")
            batch_max = int(ts_ns.max() // 1_000_000)
            if epoch == 0:
                epoch = int(ts_ns.min() // 1_000_000)  # expiry starts a new epoch
            last_ms = max(last_ms, batch_max)
        state.update((epoch, n, last_ms))
        # expire when the WATERMARK (not wall clock) passes last + ttl:
        # deterministic event-time semantics, like the pinned-run-clock TTL
        state.setTimeoutTimestamp(last_ms + ttl_seconds * 1000)
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "epoch_start_ms": [epoch],
                "n_events": [n],
                "last_writetime": [last_ms * 1000],
                "expired": [False],
            }
        )

    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(key_col)
        .applyInPandasWithState(
            update,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
