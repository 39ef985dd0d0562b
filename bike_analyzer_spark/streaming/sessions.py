"""Streaming sessionization (SURVEY.md §2.9): the batch
`session_window_stats` aggregation run as a real Structured Streaming
query over the file-replay source, with an event-time watermark.

This completes the §2.9 capability story: ingest (tumbling windows +
per-batch upsert, `ingest.py`), cross-batch state (W1 deltas,
`stateful.py`), and now gap-merged session windows — the operator the
reference's batch-only SQLite model cannot express at all (its
sessions would need a full-table re-sort per poll; reference
od_inference.py re-derives everything from scratch each run).

Parity is BY CONSTRUCTION: `session_window_agg` (operators/asof.py) is
the literal aggregation object used by the batch query; this module
only wraps it with a source, a watermark, and a sink.

Emission semantics (append mode + watermark): a session window emits
once the watermark passes its close (last event + gap). Sessions still
"open" relative to the final watermark stay in state and are NOT
emitted by a drain (`drain.py`) — exactly the behavior a 100-TB
continuous pipeline wants (no premature partial sessions), pinned by
test against the batch result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..operators.asof import SESSION_GAP_MIN, session_window_agg
from .drain import drain


def session_stream(
    events: DataFrame,
    gap_minutes: int = SESSION_GAP_MIN,
    watermark: str = "30 minutes",
) -> DataFrame:
    """`session_window_stats`'s aggregation as a streaming query.

    The watermark bounds state: sessions whose close falls behind
    (max event time - watermark) are finalized and emitted; everything
    newer stays open in the state store. State size is
    O(open sessions), independent of stream length.
    """
    return session_window_agg(
        events.withWatermark("ts", watermark), gap_minutes
    )


def run_sessions_to_parquet(
    sessions: DataFrame, out_dir: str, checkpoint_dir: str
) -> None:
    """Drain into a DURABLE parquet sink with a
    checkpoint — the production / recovery shape. Restarting with the
    same checkpoint resumes from the commit log: already-processed
    files are skipped, open-session state is restored from the state
    store, and finalized sessions are emitted exactly once across any
    number of kill/restart cycles (pinned by test_streaming_recovery).

    Parquet sinks are append-only, which is exactly the watermark
    contract: a session is written only once the watermark passes its
    close, so rows are immutable-once-emitted — the property that lets
    a 100-TB pipeline tail this directory safely.
    """
    drain(sessions, path=out_dir, checkpoint=checkpoint_dir)


def run_sessions_to_memory(
    sessions: DataFrame, name: str, mode: str = "append"
) -> None:
    """Drain into an in-memory table.

    append  -> only watermark-finalized sessions (production shape);
    complete -> every session including open ones (full-parity shape,
    used by the test to prove equality with the batch query).
    """
    drain(sessions, table=name, mode=mode)
