"""Streaming marker-bounded sessionization via applyInPandasWithState.

The batch W1 operator (running count of Cycle_Start markers) assumes it
can sort a whole machine-day; in a stream, cycles must close incrementally
and may span micro-batches. Spark's ``session_window`` is gap-based and
cannot express marker boundaries (SURVEY.md §2.9), so this keeps explicit
per-key state: the open session's id, start timestamp, and event count.

State per key is O(1) — only the open session — so the operator scales to
arbitrarily many machines; the shuffle key is machine_id, the same
partitioning the batch window uses.
"""

from __future__ import annotations

from collections.abc import Iterable
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from projekt_data_engineering_iubh_spark.functions import zipimport_cache

OUTPUT_SCHEMA = (
    "machine_id string, session_seq long, session_start timestamp, "
    "session_end timestamp, n_events long, closed boolean"
)
STATE_SCHEMA = "session_seq long, start_us long, n_events long"


def make_sessionizer(
    marker_start: str,
    marker_end: str,
    ts_col: str,
    event_col: str,
    *,
    open_session_timeout_ms: int | None = None,
    max_open_session_event_ms: int | None = None,
):
    """Build the (key, pdf_iter, state) -> pdf_iter function for
    ``applyInPandasWithState``: emits one row per closed session.

    Two force-close policies for dangling sessions (r2 VERDICT #5 —
    without one, a machine that dies mid-cycle holds its open-session
    state forever):

    * ``open_session_timeout_ms`` — processing-time: emitted
      (closed=false) after that much wall-clock without new events;
    * ``max_open_session_event_ms`` — event-time: emitted (closed=false)
      once the WATERMARK passes session_start + this duration, i.e. the
      stream has provably moved past any point where the session's
      Cycle_End could still arrive. State is removed on eviction, so
      per-key state stays O(1) and evicted keys cost nothing.
    """

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterable[pd.DataFrame]:
        (machine_id,) = key
        if state.hasTimedOut:
            if state.exists:
                seq, start_us, n = state.get
                state.remove()
                if start_us is not None and start_us >= 0:
                    yield pd.DataFrame(
                        {
                            "machine_id": [machine_id],
                            "session_seq": [seq],
                            "session_start": [pd.Timestamp(start_us, unit="us")],
                            "session_end": [pd.NaT],
                            "n_events": [n],
                            "closed": [False],
                        }
                    )
            return

        # start_us -1 encodes "counter persisted, no open session" — the
        # sequence number must survive across micro-batches even between
        # sessions, else numbering restarts per batch.
        seq, start_us, n = state.get if state.exists else (0, -1, 0)
        if start_us is not None and start_us < 0:
            start_us = None
        out: list[dict] = []
        # The iterator yields Arrow chunks in no guaranteed order — sessions
        # need one global event-time order per key per batch, with the same
        # tie-break the batch operator uses (End sorts before a same-ms
        # Start, so the End closes the *previous* cycle).
        chunks = [c for c in pdfs if len(c)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True)
            rank = pdf[event_col].map(
                lambda e: 0 if e == marker_end else (2 if e == marker_start else 1)
            )
            pdf = pdf.assign(__rank=rank).sort_values([ts_col, "__rank"])
            for ts, ev in zip(pdf[ts_col], pdf[event_col]):
                if ev == marker_start:
                    seq += 1
                    start_us = ts.value // 1000
                    n = 0
                if seq > 0:
                    n += 1
                if ev == marker_end and seq > 0:
                    out.append(
                        {
                            "machine_id": machine_id,
                            "session_seq": seq,
                            "session_start": pd.Timestamp(start_us, unit="us"),
                            "session_end": ts,
                            "n_events": n,
                            "closed": True,
                        }
                    )
                    start_us = None
                    n = 0
        state.update((seq, start_us if start_us is not None else -1, n))
        if start_us is not None and open_session_timeout_ms is not None:
            state.setTimeoutDuration(open_session_timeout_ms)
        if max_open_session_event_ms is not None and (
            start_us is not None or chunks
        ):
            # fire when the watermark passes the due point; the timestamp
            # must sit above the current watermark, so a state already
            # past due fires at the very next trigger.
            if start_us is not None:
                # open session: due at start + max duration
                due_ms = start_us // 1000 + max_open_session_event_ms
            else:
                # IDLE key (sessions all closed): the state row only
                # carries the seq counter. Reclaim it once the watermark
                # passes the key's last event + the same bound — this is
                # what keeps total state rows ≤ live keys instead of
                # ≤ keys-ever-seen (tests/test_sessionize_state_scale.py).
                # A machine returning after eviction restarts numbering
                # at 1; sequence uniqueness therefore holds within the
                # retention horizon, and the batch operator is the healer
                # beyond it (the same tiering as the dedup stack).
                last_ts_ms = int(pdf[ts_col].max().value // 1_000_000)
                due_ms = last_ts_ms + max_open_session_event_ms
            state.setTimeoutTimestamp(
                max(due_ms, state.getCurrentWatermarkMs() + 1)
            )
        if out:
            yield pd.DataFrame(out)

    return zipimport_cache.attach(fn)


def sessionize_stream(
    events: DataFrame,
    *,
    key_col: str = "machine_id",
    ts_col: str = "event_timestamp",
    event_col: str = "event_name",
    marker_start: str = "Cycle_Start",
    marker_end: str = "Cycle_End",
    open_session_timeout_ms: int | None = None,
    max_open_session_event_ms: int | None = None,
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Apply the stateful sessionizer to a streaming DataFrame.

    Force-close of dangling sessions is opt-in, two flavors:

    * ``open_session_timeout_ms`` (processing-time): note that with a
      processing-time timer registered, MicroBatchExecution schedules
      batches indefinitely to fire it, so drain-style consumers
      (processAllAvailable) never settle — use for genuinely continuous
      deployments only.
    * ``max_open_session_event_ms`` (event-time, preferred): a watermark
      (``watermark_delay`` on ``ts_col``) is registered and a session
      is evicted once the watermark passes session_start + the bound.
      Timers fire on data progress, so drains settle, and state for
      dead machines is reclaimed deterministically.

    Default keeps open sessions in state until their Cycle_End arrives.
    """
    if open_session_timeout_ms is not None and max_open_session_event_ms is not None:
        raise ValueError("choose ONE timeout flavor: processing-time or event-time")
    fn = make_sessionizer(
        marker_start,
        marker_end,
        ts_col,
        event_col,
        open_session_timeout_ms=open_session_timeout_ms,
        max_open_session_event_ms=max_open_session_event_ms,
    )
    if max_open_session_event_ms is not None:
        timeout = GroupStateTimeout.EventTimeTimeout
        events = events.withWatermark(ts_col, watermark_delay)
    elif open_session_timeout_ms is not None:
        timeout = GroupStateTimeout.ProcessingTimeTimeout
    else:
        timeout = GroupStateTimeout.NoTimeout
    return events.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=timeout,
    )
