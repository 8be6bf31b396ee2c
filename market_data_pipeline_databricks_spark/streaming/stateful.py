"""Custom stateful streaming operator via ``applyInPandasWithState``.

Running per-user cumulative statistics (event count, value sum, last
seen timestamp) maintained across micro-batches — the pattern for any
operator Spark's built-in windows can't express (per-key accumulators,
custom eviction, CEP-ish logic).

Scale: state is one small tuple per user_id in the state store,
partitioned by the grouping key; ``GroupStateTimeout.NoTimeout`` here
because the testdata is finite — production would set event-time
timeout so idle keys evict with the watermark.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = (
    "user_id long, n_events long, sum_value double, last_ts timestamp"
)
STATE_SCHEMA = "n long, s double, last bigint"


def _update_user_totals(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    if state.exists:
        n, s, last_us = state.get
    else:
        n, s, last_us = 0, 0.0, 0
    for pdf in pdfs:
        n += len(pdf)
        s += float(pdf["value"].sum())
        if len(pdf):
            # normalize to µs ticks regardless of pandas datetime unit
            us = pdf["ts"].to_numpy().astype("datetime64[us]").astype("int64")
            last_us = max(last_us, int(us.max()))
    state.update((n, s, last_us))
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "n_events": [n],
            "sum_value": [s],
            "last_ts": [pd.Timestamp(last_us, unit="us")],
        }
    )


def running_user_totals(events: DataFrame) -> DataFrame:
    """Arbitrary-stateful per-user running totals over a stream."""
    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            _update_user_totals,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
