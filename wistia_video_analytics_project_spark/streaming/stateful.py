"""Custom stateful streaming operators via applyInPandasWithState.

The engine's escape hatch for streaming semantics the built-in windowed
aggregates can't express (SURVEY.md §2.9 note; pyspark guide "Stateful"):
:func:`timeout_sessionize` keeps open sessions in state and flushes each
one when an event-time timer passes its gap (the streaming analog of
``temporal.sessionize``).

The per-group pandas body stays tiny and vectorized; all routing /
shuffle / state management is Spark's.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

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

    Unlike a NoTimeout state function (the last open session per key
    would be stranded in state forever), every open session arms an event-time timer at ``session_end + gap``; when the
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
