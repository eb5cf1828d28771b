"""Streaming day-over-day distribution drift (binned 1-Wasserstein).

Ninth hop of the streaming topology: consumes FINALIZED tier rows
(e.g. :func:`rollup_stream.stream_rollup_1m` output) and emits, per
conversation, one drift row per CLOSED day — the earth-mover
distance between the day's value histogram and the previous
observed day's, on the same fixed boundary grid as the batch
:func:`operators.statstests.wasserstein_drift` (whose arithmetic
this hop reproduces bit-for-bit on finalized days; parity asserted
in tests/test_streaming.py).

Semantics:
- A day CLOSES when the first row of a LATER day arrives for that
  conversation (finalized tier rows arrive in event-time order per
  key — the same in-order contract as ``flags_stream``). The live
  day is never emitted: it isn't over. The batch operator's last
  observed day therefore has no streaming counterpart until more
  data arrives — parity tests compare the closed prefix.
- The first closed day emits (prev_day NULL, w1 NULL), exactly like
  the batch operator's first row.
- "prev" is the previous OBSERVED day (gaps skip, as in batch).
- NaN/NULL values are skipped (they carry no histogram mass).

State per conversation: the live day's 9 bin counts plus the
previous closed day's 7-point CDF — a fixed ~130 bytes regardless
of volume, TTL-evicted like the other stateful hops. The kernel is
numpy over the whole Arrow batch; W1 is rounded with
``np_portable_round``, the numpy twin of the batch ``portable_round``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState

from yahoo_anomaly_detection_spark.functions.portable import (
    np_portable_round,
)
from yahoo_anomaly_detection_spark.operators.statstests import (
    W1_BOUNDARIES,
)
from yahoo_anomaly_detection_spark.streaming.hop import (
    keyed_state,
    require_utc,
)

_BOUNDS = np.asarray(W1_BOUNDARIES, np.float64)
_GAPS = np.diff(_BOUNDS)          # weights for the 7 interior bounds
_NBINS = len(_BOUNDS) + 1

_OUT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("day", T.TimestampType()),
        T.StructField("prev_day", T.TimestampType()),
        T.StructField("w1", T.DoubleType()),
    ]
)
# (live epoch-day or -1, live bin counts[9], prev epoch-day or -1,
#  prev cdf[7])
_STATE_SCHEMA = T.StructType(
    [
        T.StructField("cur_day", T.LongType()),
        T.StructField("cur_counts", T.ArrayType(T.LongType())),
        T.StructField("prev_day", T.LongType()),
        T.StructField("prev_cdf", T.ArrayType(T.DoubleType())),
    ]
)


def _close_day(out_rows: list, conv: str, day: int, counts: np.ndarray,
               prev_day: int, prev_cdf: np.ndarray | None):
    cdf = np.cumsum(counts)[: len(_BOUNDS) - 1] / counts.sum()
    if prev_cdf is None:
        out_rows.append((conv, day, None, None))
    else:
        w1 = float(np.sum(np.abs(cdf - prev_cdf) * _GAPS))
        out_rows.append((conv, day, prev_day, float(np_portable_round(w1))))
    return cdf


def stream_drift_1d(tiers: DataFrame, value_col: str = "mean_v",
                    ts_col: str = "bucket_start",
                    state_ttl_ms: int | None = None) -> DataFrame:
    """finalized tier rows → per-conversation daily W1 drift rows.

    Requires a UTC session (``hop.require_utc``, as the tier hops): the
    day keys here are epoch-day arithmetic on pandas-converted
    timestamps — which Spark renders in the SESSION zone — while the
    batch ``wasserstein_drift`` buckets with session-tz
    ``date_trunc('day')``; any non-UTC zone would silently shift the
    streamed day keys off the batch ones."""
    require_utc(tiers)

    def step(key, pdf: pd.DataFrame,
             state: GroupState) -> pd.DataFrame | None:
        vals = pdf[value_col].to_numpy(np.float64)
        days = (pdf[ts_col].astype("int64").to_numpy()
                // 86_400_000_000_000)
        keep = ~np.isnan(vals)
        vals, days = vals[keep], days[keep]
        if len(vals) == 0:
            return None
        # bin = #{boundaries < v}, strict — matches the batch
        # chained-comparison binning exactly
        bins = np.searchsorted(_BOUNDS, vals, side="left")

        if state.exists:
            cur_day, cur_counts, prev_day, prev_cdf = state.get
            cur_counts = np.asarray(cur_counts, np.int64)
            prev_cdf = (np.asarray(prev_cdf, np.float64)
                        if prev_day >= 0 else None)
        else:
            cur_day, cur_counts = -1, np.zeros(_NBINS, np.int64)
            prev_day, prev_cdf = -1, None

        out: list = []
        for d in np.unique(days):           # ascending
            if cur_day >= 0 and d < cur_day:
                # in-order contract violation: a micro-batch delivered
                # a day EARLIER than the live day. Adopting it would
                # silently merge the live day's bin counts into the
                # older day and corrupt the whole downstream W1 chain
                # — degrade to dropped late rows instead.
                continue
            if cur_day >= 0 and d > cur_day:
                prev_cdf = _close_day(out, key[0], cur_day,
                                      cur_counts, prev_day, prev_cdf)
                prev_day = cur_day
                cur_counts = np.zeros(_NBINS, np.int64)
            cur_day = int(d)
            cur_counts += np.bincount(bins[days == d],
                                      minlength=_NBINS)

        state.update((cur_day, cur_counts.tolist(), int(prev_day),
                      (prev_cdf.tolist() if prev_cdf is not None
                       else [])))
        if not out:
            return None
        return pd.DataFrame(
            {
                "conv_id": [r[0] for r in out],
                "day": pd.to_datetime(
                    [r[1] * 86400 for r in out], unit="s"),
                "prev_day": pd.to_datetime(
                    [r[2] * 86400 if r[2] is not None else None
                     for r in out], unit="s"),
                "w1": [r[3] for r in out],
            }
        )

    return keyed_state(
        tiers.select(
            "conv_id",
            tiers[ts_col].alias(ts_col),
            tiers[value_col].alias(value_col),
        ),
        ["conv_id"], step, _OUT_SCHEMA, _STATE_SCHEMA, state_ttl_ms,
        sort_col=ts_col,
    )
