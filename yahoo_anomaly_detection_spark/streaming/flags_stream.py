"""Streaming rolling-stats + anomaly flags over finalized tier rows.

Third hop of the streaming north-star topology: transcripts →
:func:`latency_stream.stream_latency` → :func:`rollup_stream.
stream_rollup_1m` → THIS (per-conversation trailing-k rolling
mean/std → residual → flag), completing the full batch pipeline
(`jobs/rollup_job.py --full` stats_flags stage) as a streaming graph.

Semantics vs batch (`operators/stats.py`):
- ``rolling_stats``'s window is ``rowsBetween(-k, -1)`` — the k
  PRIOR rows, current row excluded, null values skipped inside the
  window but still occupying positions. The state here is exactly that
  window: the last ≤k raw values (NaN included) per conversation, so
  the first rows of a micro-batch window over the TAIL OF THE
  PREVIOUS BATCH — the recursion never resets at batch boundaries
  (same design as latency_stream / the batch EWMA).
- The batch flag threshold is a GLOBAL fit (y·mean(score)+std(score)
  over the whole run — `zscore_envelope_flags`). A stream cannot
  aggregate its own future, so the threshold here is an input: fit it
  offline on a validation window (the reference's detector-lifecycle
  shape, val-fit → apply; see `__spark_entry__.q_detector_lifecycle`)
  and pass the number. Flags on finalized buckets then match the
  batch pipeline run with the same fitted threshold (parity asserted
  in tests/test_streaming.py).

Scale: state is one float64[≤k] array per live conversation —
bounded, and `state_ttl_ms` evicts idle conversations exactly like
latency_stream (same Spark 4.1 noDataMicroBatches caveat, see
``hop.keyed_state``). The kernel is numpy-vectorized over the
whole Arrow batch (prefix-sum window stats — no per-row Python, no
per-window loop).

Input ordering: finalized buckets are assumed to arrive in event-time
order per conversation across micro-batches (true for a watermarked
append aggregate fed by an in-order source: a bucket finalizes only
after every earlier bucket of that conversation has). Within a batch
rows are sorted by bucket_start. Emitted rows are never revised.
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
        T.StructField("rolling_mean", T.DoubleType()),
        T.StructField("rolling_std", T.DoubleType()),
        T.StructField("residual", T.DoubleType()),
        T.StructField("pred", T.IntegerType()),
    ]
)
# the trailing window itself: last ≤k raw values, NaN kept (they
# occupy window positions but are skipped in the stats, matching
# F.avg/F.stddev_pop null behavior inside rowsBetween(-k,-1))
_STATE_SCHEMA = T.StructType(
    [T.StructField("window_vals", T.ArrayType(T.DoubleType()))]
)


def _window_stats(vals: np.ndarray, h: int, k: int):
    """Trailing-k window mean/std for rows h.. of ``vals`` (prior rows
    only, NaNs skipped) via prefix sums over SHIFTED values: variance
    is shift-invariant, and centering on the global mean first keeps
    E[x²]−mean² away from catastrophic cancellation (raw values with
    mean ~1e8 and spread ~1e-3 lose every significant digit in the
    unshifted subtraction; Spark's stddev_pop — the batch operator
    this kernel must match — uses a stable central-moment update).
    Returns (mean, std) arrays for rows h..len(vals)."""
    valid = ~np.isnan(vals)
    ref = float(vals[valid].mean()) if valid.any() else 0.0
    v0 = np.where(valid, vals - ref, 0.0)
    c1 = np.concatenate([[0.0], np.cumsum(v0)])
    c2 = np.concatenate([[0.0], np.cumsum(v0 * v0)])
    cn = np.concatenate([[0], np.cumsum(valid)])
    j = np.arange(h, len(vals))
    lo = np.maximum(0, j - k)
    nv = (cn[j] - cn[lo]).astype(np.float64)
    with np.errstate(invalid="ignore", divide="ignore"):
        mean_s = np.where(nv > 0, (c1[j] - c1[lo]) / nv, np.nan)
        var = np.where(
            nv > 0, (c2[j] - c2[lo]) / nv - mean_s * mean_s, np.nan
        )
    std = np.sqrt(np.maximum(var, 0.0))
    return mean_s + ref, std


def stream_rolling_flags(tiers: DataFrame, threshold: float, k: int = 10,
                         value_col: str = "mean",
                         state_ttl_ms: int | None = None) -> DataFrame:
    """Finalized tier stream → (rolling mean/std, residual, flag).

    residual = |value − trailing-k rolling mean| (reference residual
    shape, /root/reference/StatsTesting/arma_anm_detc.py:53);
    pred = 1 if residual > threshold else 0 (NULL residual → 0,
    matching the batch `F.when(cond).otherwise(0)` projection).
    """
    thr = float(threshold)

    def step(key, pdf: pd.DataFrame, state: GroupState) -> pd.DataFrame:
        new = pdf[value_col].to_numpy(np.float64)
        hist = (
            np.asarray(state.get[0], np.float64)
            if state.exists
            else np.empty(0, np.float64)
        )
        vals = np.concatenate([hist, new])
        h = len(hist)

        # trailing-k window stats for each new row: row at global
        # index j windows over vals[max(0, j-k) : j] (shift-stable
        # prefix sums — see _window_stats)
        mean, std = _window_stats(vals, h, k)
        resid = np.abs(new - mean)
        pred = ((resid > thr) & ~np.isnan(resid)).astype(np.int32)

        state.update((vals[-k:].tolist(),))
        return pd.DataFrame(
            {
                "conv_id": key[0],
                "bucket_start": pdf["bucket_start"],
                "mean_v": new,
                "rolling_mean": mean,
                "rolling_std": std,
                "residual": resid,
                "pred": pred,
            }
        )

    return keyed_state(
        tiers.select("conv_id", "bucket_start",
                     tiers[value_col].alias(value_col)),
        ["conv_id"], step, _OUT_SCHEMA, _STATE_SCHEMA, state_ttl_ms,
        sort_col="bucket_start",
    )
