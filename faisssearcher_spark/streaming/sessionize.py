"""Custom stateful streaming operator: gap-based sessionization via
``applyInPandasWithState``.

The batch twin (operators/events.py::sessionize) is a lag + cumulative-sum
window; a *stream* can't window over unbounded history, so this is the
canonical custom-state shape the engine needs (SURVEY.md §2.10 —
streaming/stateful is absent in the reference; this is north-star
surface):

- groupBy(user) → per-key state = the (possibly) open session
  (start, last event ts, count, value sum);
- each micro-batch extends the open session or closes it when the gap
  exceeds the threshold, emitting CLOSED sessions downstream;
- an event-time timeout closes idle sessions once the watermark passes
  ``gap`` beyond their last event, so state is bounded by the number of
  concurrently-active users, never by history.

Scale notes: state lives in the executor state store keyed by user —
the shuffle is the same hash-by-key exchange as the batch window, and a
1000-executor run partitions state horizontally. Arrow moves each
micro-batch's rows per key in vectorized batches.

Times cross the Python boundary as epoch microseconds (``unix_micros``
in, ``timestamp_micros`` out), so no pandas timestamp conversion and no
session time zone touches them, and the gap is measured in elapsed time,
as the batch twin measures it.
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

#: what the state function emits per closed session; the bounds are epoch
#: microseconds, made timestamps in Spark (session_start / session_end)
_CLOSED_SCHEMA = StructType([
    StructField("user_id", LongType()),
    StructField("start_us", LongType()),
    StructField("end_us", LongType()),
    StructField("n_events", LongType()),
    StructField("sum_value", DoubleType()),
])

# state: (session_start_epoch_us, last_ts_epoch_us, n_events, sum_value)
_STATE_SCHEMA = ("start_us long, last_us long, n long, sum_value double")


def _closed_frame(user: int, closed: list) -> pd.DataFrame:
    """The rows of ``user``'s closed sessions ``(start_us, last_us, n,
    sum_value)``, as object columns of the Python values
    ``_CLOSED_SCHEMA`` takes. applyInPandasWithState's serializer
    concatenates the emitted frames with an all-None object frame (its
    padding rows); a typed column (float64, datetime64) would then take
    the dtype pandas picks from the other frames alone, a rule pandas
    deprecates (``FutureWarning``) in favour of object. Object columns
    concatenate to object under either rule."""
    return pd.DataFrame([(user, start, last, n, round(sv, 2))
                         for start, last, n, sv in closed],
                        columns=_CLOSED_SCHEMA.names, dtype=object)


def sessionize_stream(stream: DataFrame, *, user_col: str = "user_id",
                      ts_col: str = "ts", value_col: str = "value",
                      gap_minutes: int = 30,
                      watermark: str = "1 hour") -> DataFrame:
    """Streaming gap sessionization; emits one row per CLOSED session.

    A session closes when (a) a later event for the same user arrives
    more than ``gap_minutes`` after its last event, or (b) the event-time
    watermark passes ``gap_minutes`` beyond its last event (timeout — no
    further event can extend it, because rows older than the watermark
    are dropped upstream).
    """
    gap_us = gap_minutes * 60 * 1_000_000

    def _update(key: Tuple[Any, ...],
                pdfs: Iterator[pd.DataFrame],
                state: GroupState) -> Iterator[pd.DataFrame]:
        (user,) = key
        closed: list[tuple[int, int, int, float]] = []

        if state.hasTimedOut:
            if state.exists:
                closed.append(tuple(state.get))
                state.remove()
        else:
            rows = pd.concat(list(pdfs), ignore_index=True)
            rows = rows.sort_values("ts_us")
            ts_us = rows["ts_us"].tolist()
            vals = rows["value"].astype(float).tolist()

            if state.exists:
                start_us, last_us, n, sv = state.get
            else:
                start_us, last_us, n, sv = ts_us[0], ts_us[0], 0, 0.0

            for t, v in zip(ts_us, vals):
                if n > 0 and t - last_us > gap_us:
                    closed.append((start_us, last_us, n, sv))
                    start_us, n, sv = t, 0, 0.0
                last_us = max(last_us, t)
                n += 1
                sv += v
            state.update((start_us, last_us, n, sv))
            # no event past watermark+gap can extend this session
            state.setTimeoutTimestamp(last_us // 1000 + gap_minutes * 60 * 1000)

        if closed:
            yield _closed_frame(user, closed)

    return (
        stream.select(F.col(user_col).alias("user_id"), F.col(ts_col),
                      F.unix_micros(ts_col).alias("ts_us"),
                      F.col(value_col).alias("value"))
        .withWatermark(ts_col, watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _update,
            outputStructType=_CLOSED_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout)
        .select("user_id",
                F.timestamp_micros("start_us").alias("session_start"),
                F.timestamp_micros("end_us").alias("session_end"),
                "n_events", "sum_value")
    )
