"""Streaming per-conversation latency derivation.

Closes the gap in rollup_stream.py's scope note:
the batch path derives per-turn latency with a lag window over
``(conv_id, turn_idx)`` — an unbounded-partition window Structured
Streaming cannot express declaratively. This module derives the same
``(conv_id, ts, value)`` point stream with :func:`hop.keyed_state`
keyed by conv_id: the state carries (last_turn_idx, last_ts_us), so
the first turn of each micro-batch gets its latency against the last
turn of the PREVIOUS micro-batch — the recursion never resets at
batch boundaries, mirroring the batch EWMA design (state bound to the
key, not the partition chunk).

Topology: transcripts stream → stream_latency → points sink, then the
points feed :func:`rollup_stream.stream_rollup_1m` (a second hop, the
standard chained-stateful-operator layout). Parity with
``rollup.transcripts_latency`` + batch rollup is asserted in
tests/test_streaming.py on the same input.

Semantics & scale:
- Turns are assumed to arrive in event order per conversation across
  micro-batches (a log/queue source); within a batch rows are sorted
  by turn_idx. An out-of-order turn (turn_idx ≤ last seen) yields
  NULL latency and does not move state backwards — emitted rows are
  never revised (append mode).
- State is one (long, long) pair per LIVE conversation. At 10^12-turn
  scale the state store must not hold every conversation ever seen:
  ``state_ttl`` (processing-time timeout) evicts idle conversations;
  a turn arriving after eviction starts a fresh series (NULL latency,
  same as the batch path treats a conversation's first turn).
- The kernel is vectorized (numpy diff over the batch) — no per-row
  Python, matching the input_hint constraint.

The state plumbing (TTL, timeouts and the Spark 4.1
``noDataMicroBatches`` caveat) is :func:`hop.keyed_state`'s.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState

from yahoo_anomaly_detection_spark.streaming.hop import keyed_state

_OUT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
    ]
)
_STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_turn_idx", T.LongType()),
        T.StructField("last_ts_us", T.LongType()),
    ]
)


def _step(key, pdf: pd.DataFrame, state: GroupState) -> pd.DataFrame:
    ts_us = pdf["ts"].to_numpy().astype("datetime64[us]").astype(np.int64)
    turns = pdf["turn_idx"].to_numpy(np.int64)
    lat = np.empty(len(pdf), np.float64)
    lat[1:] = (ts_us[1:] - ts_us[:-1]) / 1e6
    lat[0] = np.nan
    if state.exists:
        last_turn, last_ts = state.get
        # EVERY stale row (turn_idx ≤ last accepted turn) gets
        # NULL latency — not just the batch's first row; the
        # first fresh row's latency is measured against the last
        # ACCEPTED turn (state), since its in-batch predecessor
        # is stale and was never emitted as a real step
        stale = turns <= last_turn
        lat[stale] = np.nan
        fresh = np.flatnonzero(~stale)
        if fresh.size:
            lat[fresh[0]] = (ts_us[fresh[0]] - last_ts) / 1e6
            state.update((int(turns[fresh[-1]]), int(ts_us[fresh[-1]])))
        # all-stale batch: state never regresses
    else:
        state.update((int(turns[-1]), int(ts_us[-1])))
    return pd.DataFrame({"conv_id": key[0], "ts": pdf["ts"], "value": lat})


def stream_latency(transcripts: DataFrame,
                   state_ttl_ms: int | None = None) -> DataFrame:
    """Transcripts stream → per-turn latency points
    ``(conv_id, ts, value)``; value = seconds since the previous turn
    of the same conversation (NULL for the first seen turn), matching
    ``rollup.transcripts_latency`` on in-order input."""
    return keyed_state(
        transcripts.select("conv_id", "turn_idx", "ts"), ["conv_id"],
        _step, _OUT_SCHEMA, _STATE_SCHEMA, state_ttl_ms,
        sort_col="turn_idx",
    )
