"""Streaming heartbeat-absence alerts over finalized tier rows.

Fifth hop of the streaming topology — the continuous analog of the
batch :func:`operators.tsanalytics.absent_flags` (Prometheus
``absent()``): a conversation that STOPS producing tier buckets fires
one alert once ``k`` full buckets have elapsed with no data. This is
the one alert a data-driven operator cannot express: every other hop
computes over rows that arrived; this one fires precisely BECAUSE no
row arrived — only an event-time timeout can see that.

Mechanism — two complementary channels, one alert per silence:

- **Open silences (timeout channel).** Per-conversation state holds
  one long (the last observed bucket start, µs). On data the state
  re-arms an EVENT-TIME timeout at ``last + (k+1)·bucket`` — the
  instant the k-th consecutive empty bucket completes (matching
  batch semantics: ``absent_flags`` flags the k-th missing bucket;
  this alert fires when exactly that bucket closes). When the
  query's watermark passes the timeout with no new data, the alert
  row is emitted with ``missed_buckets = k`` (the outage is still
  open) and the state is REMOVED — a conversation that returns
  re-arms from scratch, so the next silence alerts again.
- **Closed silences (retroactive channel).** A gap of ≥ k full
  buckets that ENDS with a recovery before the watermark reaches the
  deadline would cancel its own timer (the watermark only chases
  event time), so the data path also diffs the consecutive observed
  buckets — the carried state followed by this batch's sorted unique
  buckets — and emits one alert per interior gap of ≥ k missing
  buckets, with ``missed_buckets`` = the ACTUAL count (the outage is
  known complete). Spark never runs the timeout path for a group
  with data in the batch, so the channels cannot double-fire.

Alert rows: (conv_id, silent_since = last + bucket, alert_at =
last + (k+1)·bucket — the instant the alert would have fired,
missed_buckets as above).

Late-data interaction: the timeout is clamped to just above the
current watermark when a conversation's data arrives so late that
its silence deadline already passed — the alert then fires in the
next micro-batch instead of raising, with ``alert_at`` still the
true event-time deadline.

Scale: one long per live conversation — state size is that of the
latency hop; removal-on-fire IS the eviction (a dead conversation
costs exactly one timeout), so no TTL knob is needed.

Input contract: finalized tier rows (conv_id, bucket_start) with a
watermark set by THIS operator (``watermark_delay``); in-order
per conversation across micro-batches like every downstream hop.
Size ``watermark_delay`` to the CROSS-conversation event-time skew
of the upstream tier: one fast-forward conversation advances the
query watermark for everyone, and rows older than it are dropped by
Spark's late-data filter before they reach the state handler (they
can neither re-arm a timer nor close a gap).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

_OUT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("silent_since", T.TimestampType()),
        T.StructField("alert_at", T.TimestampType()),
        T.StructField("missed_buckets", T.IntegerType()),
    ]
)
# the whole state: last observed bucket start (epoch µs)
_STATE_SCHEMA = T.StructType([T.StructField("last_us", T.LongType())])

_US = 1_000_000


def stream_absence_alerts(tiers: DataFrame, k: int = 3,
                          bucket_seconds: int = 60,
                          watermark_delay: str = "10 minutes"
                          ) -> DataFrame:
    """Finalized tier stream → one absence alert per silence of ≥ k
    full buckets (see module docstring for exact event-time
    semantics and the batch-parity relationship)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if bucket_seconds < 1:
        raise ValueError(
            f"bucket_seconds must be >= 1, got {bucket_seconds}")
    b_us = int(bucket_seconds) * _US
    kk = int(k)

    def fn(key, pdfs, state: GroupState):
        import numpy as np

        if state.hasTimedOut:
            last_us = int(state.get[0])
            state.remove()
            yield pd.DataFrame(
                {
                    "conv_id": [key[0]],
                    "silent_since": [pd.Timestamp(last_us + b_us,
                                                  unit="us")],
                    "alert_at": [pd.Timestamp(last_us + (kk + 1) * b_us,
                                              unit="us")],
                    "missed_buckets": [kk],
                }
            )
            return
        chunks = []
        for pdf in pdfs:
            if len(pdf):
                chunks.append(
                    pdf["bucket_start"].to_numpy("datetime64[us]")
                    .astype(np.int64)
                )
        if not chunks:
            return
        us = np.unique(np.concatenate(chunks))
        if state.exists:
            last = int(state.get[0])
            us = us[us > last]
            seq = np.concatenate(([np.int64(last)], us))
        else:
            seq = us
        state.update((int(seq[-1]),))
        deadline_ms = (int(seq[-1]) + (kk + 1) * b_us) // 1000
        # event-time timeouts must sit strictly past the current
        # watermark; a conversation arriving later than its own
        # silence deadline clamps to "next batch" (alert_at keeps the
        # true event-time deadline — computed from state, not this)
        wm_ms = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(max(deadline_ms, wm_ms + 1))
        # CLOSED silences: a gap of >= k full buckets that ended with
        # a recovery IN this data (or since the carried state) would
        # never reach its timeout — the watermark only chases event
        # time, so a quick recovery cancels the timer before it fires.
        # Detect every such interior gap retroactively from the
        # consecutive diffs; these report the ACTUAL missed count
        # (the outage is known complete), while timeout alerts report
        # k (the outage is still open when they fire).
        if len(seq) > 1:
            d = np.diff(seq)
            missed = d // b_us - 1
            idx = np.nonzero(missed >= kk)[0]
            if len(idx):
                starts = seq[idx]
                yield pd.DataFrame(
                    {
                        "conv_id": key[0],
                        "silent_since": pd.to_datetime(starts + b_us,
                                                       unit="us"),
                        "alert_at": pd.to_datetime(
                            starts + (kk + 1) * b_us, unit="us"),
                        "missed_buckets": missed[idx].astype("int32"),
                    }
                )

    return (
        tiers.select("conv_id", "bucket_start")
        .withWatermark("bucket_start", watermark_delay)
        .groupBy("conv_id")
        .applyInPandasWithState(
            fn, _OUT_SCHEMA, _STATE_SCHEMA, "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )

