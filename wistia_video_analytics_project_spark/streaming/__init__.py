"""Structured Streaming tier (SURVEY.md §2.9).

The reference is daily micro-batch with a `since` watermark; the domain
(append-only play events) is natively a stream. This package maps the
same semantics onto Structured Streaming:

| reference behavior | streaming equivalent |
|---|---|
| 7-day lookback + last_run watermark | ``withWatermark(event_time, ...)`` |
| daily batch agg by event_date | tumbling ``F.window`` groupBy |
| overwrite-per-run silver write | append mode + ``foreachBatch`` merge |
"""

from .jobs import (  # noqa: F401
    foreach_batch_parquet_upsert,
    run_to_memory_sink,
    session_window_stats,
    sliding_window_traffic,
    stream_stream_window_join,
    windowed_engagement,
)
from .stateful import timeout_sessionize  # noqa: F401
