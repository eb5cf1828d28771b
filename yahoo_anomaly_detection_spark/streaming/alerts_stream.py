"""Streaming FOR-duration alert states over finalized tier rows.

Fourth hop of the streaming topology: transcripts →
:func:`latency_stream.stream_latency` →
:func:`rollup_stream.stream_rollup_1m` (→
:func:`flags_stream.stream_rolling_flags`) → THIS — the streaming
analog of the batch :func:`operators.tsanalytics.alert_states`
(Prometheus ``for:`` semantics): a threshold breach must HOLD for
``for_k`` consecutive samples before the alert fires; states are
``ok`` / ``pending`` / ``firing``. This is the operator an on-call
pipeline actually runs CONTINUOUSLY — evaluating alert rules per
scrape as samples arrive, not in nightly batch.

Semantics vs batch (`operators/tsanalytics.py alert_states`,
``max_gap_seconds=None`` — consecutive SAMPLES):
- ``breach`` = value > threshold, with NULL samples counted as
  non-breaches (they RESET the run, exactly the batch coalesce-0).
- ``run_pos`` = 1-based position within the current breach run,
  0 on ok rows; ``state`` = ok / pending (run < for_k) / firing.
- The run carries across micro-batches: per-conversation state is
  ONE integer (the live run length), so the first breach rows of a
  batch continue the run the previous batch left open — the
  recursion never resets at batch boundaries (same design as the
  EWMA/latency/flags hops).

Scale: state is a single long per live conversation — the smallest
state of any hop — TTL-evicted like the others (`state_ttl_ms`,
same Spark 4.1 noDataMicroBatches caveat, see ``hop.keyed_state``). The
within-batch run-length recursion is numpy-vectorized via the
cumsum/running-max reset trick — no per-row Python.

Input ordering: same contract as flags_stream — finalized buckets
arrive in event-time order per conversation across micro-batches;
within a batch rows are sorted by bucket_start. Emitted rows are
never revised.
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
        T.StructField("bucket_start", T.TimestampType()),
        T.StructField("mean_v", T.DoubleType()),
        T.StructField("breach", T.IntegerType()),
        T.StructField("run_pos", T.LongType()),
        T.StructField("state", T.StringType()),
    ]
)
# the whole state: length of the breach run still open at the end of
# the last batch (0 if it ended on a non-breach)
_STATE_SCHEMA = T.StructType([T.StructField("run_len", T.LongType())])


def run_lengths(b: np.ndarray, carry_in: int) -> np.ndarray:
    """Per-row breach-run position for a 0/1 array with a run of
    ``carry_in`` still open before row 0: run_pos = 0 on zeros,
    else 1-based position within the current run of ones.

    Vectorized reset-on-zero: with ``c = cumsum(b)``, the position of
    row t inside its run is ``c[t] − c[last zero ≤ t]`` (plus the
    carry while no zero has occurred yet) — the running max of ``c``
    sampled at zeros gives that last-reset baseline in one
    ``np.maximum.accumulate``. O(n), no Python loop.
    """
    b = np.asarray(b, np.int64)
    c = np.cumsum(b)
    # c at the most recent zero (−1 while none seen yet)
    reset_c = np.maximum.accumulate(np.where(b == 0, c, -1))
    base = np.where(reset_c >= 0, reset_c, -int(carry_in))
    return np.where(b == 1, c - base, 0)


def stream_alert_states(tiers: DataFrame, threshold: float,
                        for_k: int = 3, value_col: str = "mean",
                        state_ttl_ms: int | None = None) -> DataFrame:
    """Finalized tier stream → (breach, run_pos, ok/pending/firing).

    Batch-parity twin of
    :func:`operators.tsanalytics.alert_states` (consecutive-samples
    mode) — parity asserted in tests/test_streaming.py.
    """
    if for_k < 1:
        raise ValueError(f"for_k must be >= 1, got {for_k}")
    thr = float(threshold)

    def step(key, pdf: pd.DataFrame, state: GroupState) -> pd.DataFrame:
        vals = pdf[value_col].to_numpy(np.float64)
        carry = int(state.get[0]) if state.exists else 0
        # NULL samples are non-breaches and reset the run (batch
        # coalesce-0 semantics); NaN > thr is False already
        with np.errstate(invalid="ignore"):
            breach = (vals > thr).astype(np.int64)
        run = run_lengths(breach, carry)
        st = np.where(
            breach == 0, "ok", np.where(run >= for_k, "firing", "pending")
        )
        state.update((int(run[-1]) if breach[-1] == 1 else 0,))
        return pd.DataFrame(
            {
                "conv_id": key[0],
                "bucket_start": pdf["bucket_start"],
                "mean_v": vals,
                "breach": breach.astype(np.int32),
                "run_pos": run.astype(np.int64),
                "state": st,
            }
        )

    return keyed_state(
        tiers.select("conv_id", "bucket_start",
                     tiers[value_col].alias(value_col)),
        ["conv_id"], step, _OUT_SCHEMA, _STATE_SCHEMA, state_ttl_ms,
        sort_col="bucket_start",
    )
