"""Structured Streaming surface of the engine.

The reference has no streaming of any kind (SURVEY.md §2.C) — this
module is part of the north-star extension set: the same event
analytics the batch queries compute (tumbling windows, sessionization,
dedup), expressed over an unbounded source with watermarks bounding
state, plus a custom stateful operator via ``applyInPandasWithState``.

Design for scale (1000 executors, unbounded input):
- Every aggregation carries a watermark so the state store evicts
  closed windows/sessions instead of growing without bound.
- State is keyed on the shuffle key (window/event_type, user_id) — the
  natural partitioning; no driver-side state anywhere.
- ``spark.sql.shuffle.partitions`` is baked into a streaming
  checkpoint at first run — size it for the target cluster BEFORE
  starting the query (session.py's default applies here too). The
  bounded drains scope it per query and cap it at the cores; see
  ``events._drain``.
- The memory sink + AvailableNow trigger used by tests/queries is the
  bounded-replay harness; a production deployment swaps the sink for
  kafka/delta/parquet with exactly-once file sinks and keeps every
  transformation unchanged.
"""

from .events import (
    cdc_apply_stream,
    dedup_admission_stream,
    cdc_state,
    clicks_left_outer_errors,
    clicks_to_errors_join,
    dedup_within_watermark,
    enrich_with_dim,
    run_available_now,
    run_process_all,
    session_stats,
    stream_events,
    user_running_totals,
    user_sessions_tws,
    user_totals_tws,
    windowed_event_counts,
)

__all__ = [
    "cdc_apply_stream",
    "dedup_admission_stream",
    "cdc_state",
    "clicks_left_outer_errors",
    "clicks_to_errors_join",
    "dedup_within_watermark",
    "enrich_with_dim",
    "run_available_now",
    "run_process_all",
    "session_stats",
    "stream_events",
    "user_running_totals",
    "user_sessions_tws",
    "user_totals_tws",
    "windowed_event_counts",
]
