"""Streaming sessionization via Spark's native session windows.

The streaming counterpart of ``operators/sessions.py``: batch
sessionization is a lag/cumsum window pair (unbounded partition —
inexpressible in Structured Streaming), but Spark ships the exact
semantics as a first-class stateful operator, ``F.session_window(ts,
gap)``: per key, events closer than ``gap`` merge into one growing
window whose end is ``last_event + gap``; the watermark closes and
emits a session once no mergeable event can still arrive. State per
live (user, open-session) pair, evicted at close — bounded by
concurrent activity, not stream length (the same bounded-state
argument as the rollup hop).

Boundary note (parity contract, pinned in tests/test_streaming.py):
the batch operator starts a NEW session only when the gap is
STRICTLY greater than ``gap_seconds``, and ``session_window`` merges
events strictly inside ``last + gap`` — at a gap of exactly
``gap_seconds`` the two disagree (batch merges, session_window
splits). Real gaps are continuous so the boundary has measure zero;
the parity test keeps gaps off the boundary and the docstring keeps
the rule honest.

Output per closed session: (user_id, session_start, session_end,
n_events, sum_value) — ``session_end`` is the session-window end
(last event + gap), so ``duration = end − gap − start`` recovers the
batch operator's event-span duration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stream_sessions(events: DataFrame, gap_seconds: int = 1800,
                    watermark: str = "10 minutes") -> DataFrame:
    """Event stream → closed-session aggregates (append mode): one
    row per (user, session) once the watermark passes the session's
    mergeable horizon."""
    if gap_seconds < 1:
        raise ValueError(f"gap_seconds must be >= 1, got {gap_seconds}")
    return (
        events.withWatermark("ts", watermark)
        .groupBy(
            F.col("user_id"),
            F.session_window("ts", f"{int(gap_seconds)} seconds"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum("value").alias("sum_value"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events", "sum_value",
        )
    )

