"""Custom stateful streaming operators — the engine's templates for
state Spark's built-in windows can't express (running per-key
accumulators, custom eviction, timer-driven emission, cross-batch
logic). Two API generations:

- ``running_user_totals``: applyInPandasWithState (GroupState) — one
  (total, n) pair per user, bounded by key cardinality.
- ``idle_session_finalizer``: GroupState + EVENT-TIME TIMEOUT: a
  session closes either because a later in-batch event opens the next
  one, or because the watermark passes its idle deadline and the group
  times out. (Spark 4's transformWithStateInPandas StatefulProcessor —
  typed ValueState + a first-class timer registry — is the successor
  API for this exact shape, but its state protocol needs protobuf,
  which this environment doesn't ship; GroupState's
  setTimeoutTimestamp expresses identical semantics here.)

The Arrow batch iterator keeps the Python crossing amortized (one call
per key per micro-batch); state-store cost is per-partition-per-batch,
so drains size their state shards to the cores, min(8,
defaultParallelism), instead of the session's 2x-cores shuffle default
(see queries/streaming_pack._state_partitions).
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = "user_id bigint, total_value double, n_events bigint"
STATE_SCHEMA = "total double, n bigint"


def running_user_totals(events: DataFrame) -> DataFrame:
    """Running (total value, event count) per user, emitted every batch."""

    def update(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        total, n = state.get if state.exists else (0.0, 0)
        for pdf in pdfs:
            total += float(pdf["value"].sum())
            n += len(pdf)
        state.update((total, n))
        yield pd.DataFrame(
            {"user_id": [key[0]], "total_value": [total], "n_events": [n]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )



SESSION_OUTPUT = (
    "user_id bigint, session_start timestamp, session_end timestamp,"
    " n_events bigint, total_value double, closed_by string"
)
SESSION_STATE = "start_us long, last_us long, n long, total double"


def _ts_micros(col: pd.Series) -> pd.Series:
    s = pd.to_datetime(col)
    if getattr(s.dt, "tz", None) is not None:
        s = s.dt.tz_localize(None)
    return s.astype("datetime64[us]").astype("int64")


def idle_session_finalizer(
    events: DataFrame, gap_minutes: int = 10, watermark_delay: str = "30 minutes"
) -> DataFrame:
    """Per-user gap sessions finalized by event-time timeouts.

    A user's open session lives in GroupState; each batch re-arms
    ``setTimeoutTimestamp(last_event + gap)``. Sessions that a later
    in-batch event closes emit immediately (``closed_by='gap'``); an
    idle tail emits when the WATERMARK crosses its deadline and Spark
    invokes the group with ``hasTimedOut`` (``closed_by='timer'``) —
    state and its timeout are dropped on emission, so state size is
    bounded by users with an open, non-expired session.

    Deterministic under an availableNow drain: the final no-data batch
    advances the watermark to ``max(ts) - delay`` and times out exactly
    the tails whose deadline lies strictly below it IN MILLISECONDS —
    empirically pinned (tests/test_stateful.py): timeout fires when
    wm_ms > deadline_ms, boundary equality does not fire, and both
    sides truncate microseconds (a +1us nudge past the boundary does
    nothing; +1ms fires). The DuckDB oracle mirrors this with an
    ms-floored watermark CTE. One shuffle on the user key; session
    bounds stay exact integer microseconds.
    """
    gap_us = gap_minutes * 60 * 1_000_000

    def update(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        def emit_batch(rows: list[tuple[int, int, int, float, str]]):
            # ONE DataFrame per group invocation: a 1-row frame per
            # closed session costs ~100k pandas constructions + Arrow
            # batches per drain at sf0.1 (~25 s); batching makes the
            # Python crossing O(groups), not O(sessions).
            starts, ends, ns, totals, hows = zip(*rows)
            return pd.DataFrame(
                {
                    "user_id": [key[0]] * len(rows),
                    "session_start": pd.to_datetime(list(starts), unit="us"),
                    "session_end": pd.to_datetime(list(ends), unit="us"),
                    "n_events": list(ns),
                    "total_value": list(totals),
                    "closed_by": list(hows),
                }
            )

        if state.hasTimedOut:
            start_us, last_us, n, total = state.get
            state.remove()
            yield emit_batch([(start_us, last_us, n, total, "timer")])
            return
        evs: list[tuple[int, float]] = []
        for pdf in pdfs:
            us = _ts_micros(pdf["ts"])
            evs.extend(zip(us.tolist(), pdf["value"].astype(float).tolist()))
        evs.sort()
        start_us, last_us, n, total = state.get if state.exists else (None, 0, 0, 0.0)
        closed: list[tuple[int, int, int, float, str]] = []
        for ts_us, value in evs:
            if start_us is None:
                start_us, last_us, n, total = ts_us, ts_us, 1, value
            elif ts_us - last_us < gap_us:
                last_us, n, total = ts_us, n + 1, total + value
            else:
                closed.append((start_us, last_us, n, total, "gap"))
                start_us, last_us, n, total = ts_us, ts_us, 1, value
        if closed:
            yield emit_batch(closed)
        if start_us is not None:
            state.update((start_us, last_us, n, total))
            state.setTimeoutTimestamp((last_us + gap_us) // 1000)

    return (
        events.withWatermark("ts", watermark_delay)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=SESSION_OUTPUT,
            stateStructType=SESSION_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
