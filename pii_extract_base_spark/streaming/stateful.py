"""Custom stateful streaming operators (SURVEY §2.4 streaming row:
watermark / session / state).

Two operators a streaming training-data intake needs beyond windowed
aggregation (both bounded-state by watermark):

 - streaming_exact_dedup: drop re-crawled duplicate pages across
   micro-batches via dropDuplicatesWithinWatermark on the content
   fingerprint — state holds one fingerprint per doc within the
   watermark horizon, so it is bounded regardless of stream length.
 - sessionize_events: session windows per user with a gap timeout,
   implemented with applyInPandasWithState (GroupState) — the
   canonical custom-stateful-operator shape (per-group state carries
   the open session; the watermark expires idle groups through state
   timeouts).

Both compose with the quality stages in quality_stream.py.
"""

from typing import Iterable

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import (GroupState,
                                         GroupStateTimeout)
from pyspark.sql.types import (LongType, StructField, StructType,
                               StringType, TimestampType)

from ..functions.textstats import fingerprint


def streaming_exact_dedup(pages: DataFrame,
                          text_col: str = "text",
                          ts_col: str = "warc_ts",
                          watermark: str = "30 minutes") -> DataFrame:
    """Exact-duplicate suppression over a stream: keep the first page
    per md5(text) fingerprint within the watermark horizon.

    dropDuplicatesWithinWatermark (not plain dropDuplicates) bounds the
    dedup state: fingerprints older than the watermark are evicted, so
    at 100 TB/day ingest the state is (rate x horizon) keys, not the
    full corpus. A second-level batch dedup (operators/dedup.py) runs
    downstream for the full-corpus guarantee.
    """
    return (pages
            .withColumn("_fp", fingerprint(text_col))
            .withWatermark(ts_col, watermark)
            .dropDuplicatesWithinWatermark(["_fp"])
            .drop("_fp"))


SESSION_SCHEMA = StructType([
    StructField("user_id", LongType()),
    StructField("session_start", TimestampType()),
    StructField("session_end", TimestampType()),
    StructField("n_events", LongType()),
])

_STATE_SCHEMA = StructType([
    StructField("start_ms", LongType()),
    StructField("last_ms", LongType()),
    StructField("n", LongType()),
])


def _sessions_pdf(user_id, sessions) -> pd.DataFrame:
    """Typed output frame; ALWAYS yielded (possibly 0-row): pyspark
    4.1's state serializer crashes the worker on a group whose
    generator yields nothing (reproduced in tests), so an empty typed
    frame is the safe no-output representation."""
    return pd.DataFrame({
        "user_id": pd.array([user_id] * len(sessions), dtype="int64"),
        "session_start": pd.to_datetime(
            [pd.Timestamp(s, unit="ms") for s, _, _ in sessions]),
        "session_end": pd.to_datetime(
            [pd.Timestamp(e, unit="ms") for _, e, _ in sessions]),
        "n_events": pd.array([c for _, _, c in sessions], dtype="int64"),
    })


def _make_session_fn(gap_ms: int, idle_timeout_ms: int):
    """Closure over the event-time gap + idle processing-time timer."""
    def _session_fn(key, pdfs, state):
        return _session_impl(key, pdfs, state, gap_ms, idle_timeout_ms)
    return _session_fn


def _session_impl(key, pdfs: Iterable[pd.DataFrame],
                  state: GroupState,
                  gap_ms: int, idle_timeout_ms: int) -> Iterable[pd.DataFrame]:
    """Per-user session accumulator: events extend the open session;
    a processing-time timeout (the stream's gap proxy) closes it."""
    if state.hasTimedOut:
        (start_ms, last_ms, n) = state.get
        state.remove()
        yield _sessions_pdf(key[0], [(start_ms, last_ms, n)])
        return

    start_ms = last_ms = None
    n = 0
    if state.exists:
        start_ms, last_ms, n = state.get
    closed = []
    saw_events = False
    for pdf in pdfs:
        for ts in sorted(pdf["ts"]):
            saw_events = True
            ms = int(pd.Timestamp(ts).value // 1_000_000)
            if last_ms is None:
                start_ms = last_ms = ms
                n = 1
            elif ms - last_ms > gap_ms:
                closed.append((start_ms, last_ms, n))
                start_ms = last_ms = ms
                n = 1
            else:
                last_ms = ms
                n += 1
    # persist + (re-)arm the idle timer ONLY when new events arrived:
    # no-data "cleaning up state" batches also invoke this fn for every
    # live group, and updating/arming there both resurrects removed
    # state and pushes the timer forward each batch — the availableNow
    # drain then loops cleanup batches forever because no timer can
    # ever expire
    if saw_events and last_ms is not None:
        state.update((start_ms, last_ms, n))
        state.setTimeoutDuration(idle_timeout_ms)
    yield _sessions_pdf(key[0], closed)


def sessionize_events(events: DataFrame,
                      gap_ms: int = 30 * 60 * 1000,
                      idle_timeout_ms: int = None) -> DataFrame:
    """Streaming sessionization via applyInPandasWithState: emits a row
    per CLOSED session. Two independent knobs: ``gap_ms`` splits on
    EVENT-time gaps within the arriving data; ``idle_timeout_ms``
    (default = gap_ms) is the PROCESSING-time timer that closes a
    session when its group goes quiet.

    Engine quirk (pyspark 4.1, verified in tests): with this operator
    a ``trigger(availableNow=True)`` drain keeps scheduling "no new
    data but cleaning up state" batches and never self-terminates,
    even after all timers fired and state emptied — emissions are
    correct throughout; callers running a bounded drain should poll
    the sink for expected output (or run with a continuous trigger
    and their own stop condition) rather than awaitTermination."""
    if idle_timeout_ms is None:
        idle_timeout_ms = gap_ms
    return (events
            .groupBy("user_id")
            .applyInPandasWithState(
                _make_session_fn(gap_ms, idle_timeout_ms),
                outputStructType=SESSION_SCHEMA,
                stateStructType=_STATE_SCHEMA,
                outputMode="append",
                timeoutConf=GroupStateTimeout.ProcessingTimeTimeout))
