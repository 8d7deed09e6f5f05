"""Per-user CUSUM drift detection — a custom stateful streaming
operator via ``applyInPandasWithState``.

The one-sided CUSUM recurrence s_t = max(0, s_{t-1} + x_t − K), alarm
and reset when s_t > H, is a sequential state machine: no window
function expresses it (the reset makes it non-associative), which is
exactly the case Spark's arbitrary-state API exists for.  The DuckDB
oracle replays the identical recurrence as a recursive CTE, so even
this non-SQL operator is hash-verified: both engines evaluate the same
left-to-right IEEE double sequence.

Ordering contract: within a micro-batch each user's rows are sorted by
(event-time µs, event_id) before the recurrence.  The availableNow
replay used by the contract query delivers the whole table as one
batch, so the result is exact; a production deployment feeds the
detector an event-time-ordered stream (or accepts per-batch ordering,
the standard CUSUM-on-stream tradeoff).

State per user is three scalars (s, n_alarms, n_events) — bounded
regardless of stream length, the property that matters at 100 TB/day.
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

CUSUM_K = 60.0  # slack: drift accumulates only above this per-event level
CUSUM_H = 200.0  # alarm threshold; reset after firing

_OUTPUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("n_alarms", LongType()),
        StructField("final_s", DoubleType()),
    ]
)
_STATE = StructType(
    [
        StructField("s", DoubleType()),
        StructField("n_alarms", LongType()),
        StructField("n_events", LongType()),
    ]
)


def _update_cusum(
    key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    s, n_alarms, n_events = state.get if state.exists else (0.0, 0, 0)
    batch = pd.concat(list(pdfs), ignore_index=True)
    batch = batch.sort_values(["t", "event_id"], kind="mergesort")
    for v in batch["value"].astype(float):
        # Mirrors the oracle exactly: (s + v) - K, clamp, compare.
        s_new = s + v - CUSUM_K
        if s_new < 0.0:
            s_new = 0.0
        n_events += 1
        if s_new > CUSUM_H:
            n_alarms += 1
            s = 0.0
        else:
            s = s_new
    state.update((s, n_alarms, n_events))
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "n_events": [n_events],
            "n_alarms": [n_alarms],
            "final_s": [s],
        }
    )


def user_cusum(stream: DataFrame) -> DataFrame:
    """Apply the CUSUM state machine per user over an event stream
    (expects the events_stream schema with its ns ``ts``)."""
    # Imported here: importing the operators package imports this module.
    from decision_tree_analytics_spark.operators._rules import ts_us

    keyed = stream.filter(F.col("value").isNotNull()).select(
        "user_id", "event_id", ts_us().alias("t"), "value"
    )
    return keyed.groupBy("user_id").applyInPandasWithState(
        _update_cusum,
        outputStructType=_OUTPUT,
        stateStructType=_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
