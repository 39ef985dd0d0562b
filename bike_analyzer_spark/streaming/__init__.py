"""Structured Streaming variants of the ingest/analytics path
(SURVEY.md §2.9). The reference approximates a stream by re-running a
polling batch; here the same logic runs as a real stream. Every
surface reads, drains and lands through `drain.py`."""

from .ingest import (
    dedup_stream,
    foreach_batch_upsert,
    run_to_memory,
    status_stream,
    sliding_avg,
    windowed_avg,
)
from .joins import events_stream
from .sessions import run_sessions_to_memory, session_stream

__all__ = [
    "dedup_stream",
    "events_stream",
    "foreach_batch_upsert",
    "run_sessions_to_memory",
    "run_to_memory",
    "session_stream",
    "status_stream",
    "sliding_avg",
    "windowed_avg",
]
