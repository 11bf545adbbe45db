"""Custom stateful streaming operators via applyInPandasWithState.

The engine's escape hatch for streaming semantics the built-in windowed
aggregates can't express (SURVEY.md §2.9 note; pyspark guide "Stateful").
Two operators:

- :func:`running_engagement_score` — per-user exponentially-decayed
  engagement score maintained across micro-batches. The state is one
  (score, last_ts) pair per user: O(users) state, watermark-free because
  it never grows with event volume.
- :func:`streaming_sessionize` — event-time sessionization with open
  sessions kept in state and emitted when the gap timeout passes
  (the streaming analog of ``temporal.sessionize``).

Both keep the per-group pandas body tiny and vectorized; all routing /
shuffle / state management is Spark's.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

SCORE_OUT_SCHEMA = "user_id long, score double, n_events int, batch_max_ts timestamp"
SCORE_STATE_SCHEMA = "score double, last_ts timestamp"

SESSION_OUT_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, n_events int"
)
SESSION_STATE_SCHEMA = "session_start timestamp, session_end timestamp, n_events int"


def running_engagement_score(
    events: DataFrame,
    half_life_s: float = 3600.0,
    ts_col: str = "ts",
    key_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Streaming per-user score: sum of event values, exponentially
    decayed with the configured half-life. Emits one row per (user,
    micro-batch) with the updated score."""
    import math

    import pandas as pd

    def update(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.exists:
            score, last_ts = state.get
            last_ts = pd.Timestamp(last_ts)
        else:
            score, last_ts = 0.0, None
        n = 0
        for pdf in pdfs:
            pdf = pdf.sort_values(ts_col)
            for ts, v in zip(pdf[ts_col], pdf[value_col]):
                ts = pd.Timestamp(ts)
                if last_ts is not None:
                    dt_s = max((ts - last_ts).total_seconds(), 0.0)
                    score *= math.exp(-math.log(2.0) * dt_s / half_life_s)
                score += float(v) if v == v else 0.0  # NaN-safe
                last_ts = ts
                n += 1
        state.update((score, last_ts.to_pydatetime()))
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "score": [round(score, 6)],
                "n_events": [n],
                "batch_max_ts": [last_ts],
            }
        )

    return (
        events.select(key_col, ts_col, value_col)
        .groupBy(key_col)
        .applyInPandasWithState(
            update,
            outputStructType=SCORE_OUT_SCHEMA,
            stateStructType=SCORE_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_sessionize(
    events: DataFrame,
    gap_s: float = 1800.0,
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """Event-time sessionization with explicit state: a session closes
    when a new event arrives more than ``gap_s`` after the session end;
    the CLOSED session is emitted and the new one replaces it in state.

    (Open sessions at stream end stay in state — production would add a
    processing-time timeout to flush them; kept minimal here.)
    """
    import pandas as pd

    def update(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        closed: list[tuple] = []
        if state.exists:
            start, end, n = state.get
            start, end = pd.Timestamp(start), pd.Timestamp(end)
        else:
            start = end = None
            n = 0
        for pdf in pdfs:
            for ts in sorted(pd.Timestamp(t) for t in pdf[ts_col]):
                if start is None:
                    start = end = ts
                    n = 1
                elif (ts - end).total_seconds() > gap_s:
                    closed.append((user_id, start, end, n))
                    start = end = ts
                    n = 1
                else:
                    end = max(end, ts)
                    n += 1
        state.update((start.to_pydatetime(), end.to_pydatetime(), n))
        if closed:
            yield pd.DataFrame(
                closed, columns=["user_id", "session_start", "session_end", "n_events"]
            )

    return (
        events.select(key_col, ts_col)
        .groupBy(key_col)
        .applyInPandasWithState(
            update,
            outputStructType=SESSION_OUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


TIMEOUT_SESSION_OUT_SCHEMA = (
    "user_id long, session_start_us long, session_end_us long, "
    "n_events int, closed_by string"
)
TIMEOUT_SESSION_STATE_SCHEMA = (
    "session_start_us long, session_end_us long, n_events int"
)


def timeout_sessionize(
    events: DataFrame,
    gap_s: float = 1800.0,
    watermark: str = "1 hour",
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """Streaming shape eight: arbitrary-stateful TIMEOUT sessions — the
    flatMapGroupsWithState pattern via ``applyInPandasWithState`` with
    ``GroupStateTimeout.EventTimeTimeout``.

    Unlike :func:`streaming_sessionize` (NoTimeout: the last open
    session per key is stranded in state forever), every open session
    arms an event-time timer at ``session_end + gap``; when the
    watermark passes it, Spark invokes the group with ``hasTimedOut``
    on a no-data micro-batch and the session FLUSHES — so a
    run-to-completion drive emits a deterministic, oracle-checkable
    set: all sessions closed by a successor event (``closed_by='gap'``)
    plus all timed-out sessions whose timer the final watermark passed
    (``closed_by='timeout'``).  Batch equivalent: gaps-and-islands.

    Session bounds are exact INTEGER MICROS end-to-end (CLAUDE.md
    timestamp rule).  State is one open session per key — O(keys),
    never O(events) — and timed-out keys are REMOVED, so idle keys cost
    nothing after their flush (the state-bound pytest pins this).
    """
    import pandas as pd

    gap_us = int(gap_s * 1_000_000)

    def update(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        cols = [
            "user_id", "session_start_us", "session_end_us",
            "n_events", "closed_by",
        ]
        if state.hasTimedOut:
            start, end, n = state.get
            state.remove()  # O(keys) bound: flushed keys leave the store
            yield pd.DataFrame(
                [(user_id, start, end, n, "timeout")], columns=cols
            )
            return
        if state.exists:
            start, end, n = state.get
        else:
            start = end = None
            n = 0
        us_vals: list[int] = []
        for pdf in pdfs:
            # datetime64[ns] -> exact integer micros (floor division)
            us_vals.extend(
                int(v) // 1000 for v in pdf[ts_col].astype("int64")
            )
        closed: list[tuple] = []
        for us in sorted(us_vals):
            if start is None:
                start = end = us
                n = 1
            elif us - end > gap_us:
                closed.append((user_id, start, end, n, "gap"))
                start = end = us
                n = 1
            else:
                end = max(end, us)
                n += 1
        state.update((start, end, n))
        # arm the flush timer; must stay strictly above the current
        # watermark (late keys re-arm just past it)
        timeout_ms = (end + gap_us) // 1000
        state.setTimeoutTimestamp(
            max(timeout_ms, state.getCurrentWatermarkMs() + 1)
        )
        if closed:
            yield pd.DataFrame(closed, columns=cols)

    return (
        events.select(key_col, ts_col)
        .withWatermark(ts_col, watermark)
        .groupBy(key_col)
        .applyInPandasWithState(
            update,
            outputStructType=TIMEOUT_SESSION_OUT_SCHEMA,
            stateStructType=TIMEOUT_SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
