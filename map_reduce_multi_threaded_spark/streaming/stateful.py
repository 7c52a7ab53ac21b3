"""Custom stateful streaming operator via ``applyInPandasWithState``.

This is the escape hatch for operators Structured Streaming lacks
natively: per-key mutable state carried across micro-batches, with
Arrow-batched pandas on each side.  The reference's closest analogue
is its per-process ``output_hashmap`` accumulating merged counts
across the shuffle (``map_reduce.cpp:386-438``) — here the state store
is per-key, fault-tolerant, and partitioned across executors.

Scale: state lives in the state store keyed by group — memory is
bounded by (keys × state size) per partition, and GroupStateTimeout
evicts idle keys; never hold unbounded history in state.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StructField,
    StructType,
    TimestampType,
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("last_ts", TimestampType()),
    ]
)

STATE_SCHEMA = StructType(
    [
        StructField("count", LongType()),
        StructField("last_ts", TimestampType()),
    ]
)


def _update_user_counts(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Accumulate per-user event count + latest timestamp across
    micro-batches; emit the running totals each batch."""
    count, last_ts = state.get if state.exists else (0, None)
    for pdf in pdfs:
        count += len(pdf)
        batch_max = pdf["ts"].max()
        if last_ts is None or batch_max > last_ts:
            last_ts = batch_max
    state.update((count, last_ts))
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [count], "last_ts": [last_ts]})


def running_user_counts(events: DataFrame) -> DataFrame:
    """Streaming per-user running event counts with custom state."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update_user_counts,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Custom sessionization with EVENT-TIME TIMEOUTS — the state pattern
# session_window() implements natively, rebuilt on raw GroupState to
# show (and test) the full custom-operator machinery: per-key state,
# in-batch gap splitting, and watermark-driven expiry of idle keys.
# ---------------------------------------------------------------------------

SESSION_GAP_MS = 30 * 60 * 1000

SESSION_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("n_events", LongType()),
    ]
)

#: open session carried across micro-batches
SESSION_STATE_SCHEMA = StructType(
    [
        StructField("session_start", TimestampType()),
        StructField("last_ts", TimestampType()),
        StructField("count", LongType()),
    ]
)


def _update_sessions(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Emit a session row when a >30-min gap closes it — either a later
    event from the same user (in-batch or cross-batch) or the event-time
    timeout firing once the watermark passes last_ts + gap.

    Correct because the replay is time-ordered: within a batch rows are
    sorted here; across batches file staging guarantees order; so every
    gap is observed exactly once and each session emits exactly once."""
    import pandas as _pd

    gap = _pd.Timedelta(milliseconds=SESSION_GAP_MS)
    done: list[tuple] = []  # (session_start, count)

    if state.hasTimedOut:
        start, last, count = state.get
        done.append((start, count))
        state.remove()
    else:
        start, last, count = state.get if state.exists else (None, None, 0)
        rows = _pd.concat(list(pdfs))
        rows = rows.sort_values("ts")
        for ts in rows["ts"]:
            if last is not None and ts - last > gap:
                done.append((start, count))
                start, count = None, 0
            if start is None:
                start = ts
                count = 0
            count += 1
            last = ts
        state.update((start, last, count))
        # expire once the watermark proves no event can extend the
        # session (watermark is event time minus delay, so last+gap)
        state.setTimeoutTimestamp(int(last.value // 1_000_000) + SESSION_GAP_MS)

    yield _pd.DataFrame(
        {
            "user_id": [key[0]] * len(done),
            "session_start": [d[0] for d in done],
            "n_events": [d[1] for d in done],
        }
    )


def session_windows_custom(events: DataFrame) -> DataFrame:
    """Streaming sessionization via raw GroupState + EventTimeTimeout
    (requires a watermark on the input)."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update_sessions,
        outputStructType=SESSION_OUTPUT_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )

