"""Streaming cardinality: live HLL distinct-count per (key, day).

The realtime half of ``operators/sketches.py`` — the Druid/ClickHouse
"realtime uniques" feature: a dashboard wants today's distinct users
NOW, not after the nightly batch rollup. Structured Streaming's
built-in ``approx_count_distinct`` aggregate cannot emit a RUNNING
estimate per micro-batch in append mode, and its sketch state is not
the engine's own register format — so this hop keeps the engine's
md5-lane HLL registers (bit-identical to the batch
``sketches.hll_registers``) as keyed state and re-estimates after
each micro-batch merge.

Design (SURVEY §2.9 / §2.11; no reference counterpart — the
reference is batch-only):

- The register computation stays JVM-side: the stream is projected to
  ``(key, bucket_start, reg, rho)`` with the SAME engine-portable md5
  lane expressions the batch path uses. (A pre-state
  ``groupBy(key, bucket, reg) → max`` would shrink the shuffle to
  ≤2^p rows/key/batch, but a streaming aggregate in append mode
  demands a watermark — which defers emission to bucket close, the
  opposite of a live journal — so the reduction happens inside the
  kernel's vectorized ``np.maximum.at`` instead.)
- State per (key, day) is the 2^p register array (int8-equivalent
  rho values in a long array); the micro-batch merge is one
  vectorized ``np.maximum`` — registers are idempotent and
  commutative, so redelivered or reordered batches cannot corrupt
  the count (the same merge-safety argument as the batch tier
  cascade in ``hll_cascade``).
- Each batch APPENDS one ``(key, bucket_start, upd_seq, est)`` row —
  an estimate journal; the live value is the row with the highest
  ``upd_seq`` per key (cheap last-write-wins view), and the final
  journal entry equals the batch estimate on the same data EXACTLY
  (parity-tested against ``sketches.hll_distinct``, including the
  linear-counting small-range switch and the half-away rounding).
- ``state_ttl_ms`` evicts idle (key, day) sketches — state is
  2^p longs per LIVE key-day, independent of stream length. Same
  Spark 4.1 no-data-batch caveat as the other stateful hops (see
  ``hop.keyed_state``).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState

from yahoo_anomaly_detection_spark.functions.portable import (
    np_portable_round,
)
from yahoo_anomaly_detection_spark.operators.sketches import (
    _check_p,
    _hll_alpha,
    _lane,
)
from yahoo_anomaly_detection_spark.streaming.hop import keyed_state

_OUT_SCHEMA = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("bucket_start", T.TimestampType()),
        T.StructField("upd_seq", T.LongType()),
        T.StructField("est", T.DoubleType()),
    ]
)
_STATE_SCHEMA = T.StructType(
    [
        T.StructField("upd_seq", T.LongType()),
        T.StructField("regs", T.ArrayType(T.LongType())),
    ]
)


def stream_hll_registers(events: DataFrame, id_col: str = "user_id",
                         key: str = "event_type", ts_col: str = "ts",
                         p: int = 10) -> DataFrame:
    """JVM-side projection of an event stream to HLL register
    updates (key, bucket_start, reg, rho) — identical hash lanes to
    the batch ``sketches.hll_registers``, so streamed and batch
    sketches are bit-compatible and mergeable with each other."""
    m = _check_p(p)
    idc = F.col(id_col)
    hi = _lane(idc, 9)
    rho = (F.when(hi == 0, F.lit(33))
           .otherwise(F.lit(33) - F.length(F.conv(hi, 10, 2))))
    return (
        events.where(idc.isNotNull())
        .select(F.col(key),
                F.date_trunc("day", F.col(ts_col)).alias("bucket_start"),
                (_lane(idc, 1) % F.lit(m)).alias("reg"),
                rho.alias("rho"))
    )


def _np_estimate(regs: np.ndarray, p: int) -> float:
    """numpy mirror of ``sketches.hll_estimate`` (raw HLL + the
    linear-counting switch + the engine's half-away-from-zero
    4-decimal rounding) — kept formula-identical so the streaming
    journal's final entry equals the batch estimate bit-for-bit."""
    m = 1 << p
    alpha = _hll_alpha(m)
    nz = regs > 0
    v = m - int(nz.sum())
    s = float(np.sum(np.power(2.0, -regs[nz].astype(np.float64))))
    raw = alpha * m * m / (float(v) + s)
    if v > 0 and raw <= 2.5 * m:
        est = float(m) * math.log(float(m) / float(v))
    else:
        est = raw
    return float(np_portable_round(est))


def stream_hll_distinct(events: DataFrame, id_col: str = "user_id",
                        key: str = "event_type", ts_col: str = "ts",
                        p: int = 10,
                        state_ttl_ms: int | None = None) -> DataFrame:
    """Event stream → running distinct-``id_col`` estimate journal per
    (key, day): one appended row per key per micro-batch, live value =
    max ``upd_seq`` row."""
    m = _check_p(p)
    # no pre-state groupBy: a streaming aggregate in append mode
    # demands a watermark (which would defer emission to bucket
    # close — the opposite of a LIVE journal). The register rows
    # shuffle raw to the state key and the reduction happens in the
    # kernel's vectorized np.maximum.at — one pass, no per-row
    # Python; the shuffled row is 4 narrow columns per event
    regs_upd = stream_hll_registers(events, id_col, key, ts_col, p)

    def step(grp_key, pdf: pd.DataFrame, state: GroupState) -> pd.DataFrame:
        if state.exists:
            seq, regs_list = state.get
            regs = np.asarray(regs_list, dtype=np.int64)
        else:
            seq = 0
            regs = np.zeros(m, dtype=np.int64)
        np.maximum.at(regs, pdf["reg"].to_numpy(np.int64),
                      pdf["rho"].to_numpy(np.int64))
        seq += 1
        state.update((int(seq), [int(x) for x in regs]))
        return pd.DataFrame(
            {
                "event_type": [grp_key[0]],
                "bucket_start": [pd.Timestamp(grp_key[1])],
                "upd_seq": [seq],
                "est": [_np_estimate(regs, p)],
            }
        )

    return keyed_state(regs_upd, [key, "bucket_start"], step,
                       _OUT_SCHEMA, _STATE_SCHEMA, state_ttl_ms)
