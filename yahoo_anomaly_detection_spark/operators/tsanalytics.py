"""Timeseries analytics layer: robust (MAD) anomaly envelopes,
counter-rate with reset handling, turn-taking statistics,
time-weighted bucket averages, Holt double-exponential smoothing,
and distributed AR(2) residuals.

Extends the reference's statistical detector family
(/root/reference/StatsTesting/arma_anm_detc.py's mean/std z-score
envelope) with the robust-statistics and observability-rollup
operators a production timeseries engine ships next to them — the
same layer TimescaleDB (time_weight), Prometheus (rate/increase with
counter resets), and anomaly-detection toolkits (MAD envelopes, a
standard robust alternative to the reference's mean/std threshold)
provide. No reference counterpart; engine extension per SURVEY §2.11.

Scale shapes (plan-audited in tests/test_tsanalytics.py):

- ``robust_flags``: two grouped exact-percentile aggregates + two
  hash joins back on the series key — group stats travel as one row
  per key, never a per-key window sort of the full relation. Exact
  median (the oracle path) is a sort-based aggregate per group, the
  same caveat as ``sessions.value_percentiles``; ``rel_error=``
  switches both percentiles to the mergeable ``approx_percentile``
  sketch for groups that outgrow a task.
- ``counter_rate`` / ``turn_taking``: ONE hash exchange on the
  series key serves both the lag window and the downstream groupBy
  (hash-partitioning on ``conv_id`` satisfies the clustered
  distribution of ``(conv_id, bucket)``), so the raw relation
  shuffles exactly once.
- ``time_weighted_avg``: the window partitions on
  ``(conv_id, bucket)`` — per-task input is one bucket of one
  series, bounded regardless of how long a hot conversation runs —
  and the groupBy reuses the same exchange.
- ``holt``: the two-state sibling of ``stats.ewma`` — one
  vectorized ``mapInPandas`` pass over key-partitioned, key-sorted
  data; partition count is data-bound, never one frame per group.
- ``ar2_residuals``: Yule-Walker from lag-product aggregates; ONE
  physical exchange (AQE reuses the shared lagged subtree's
  shuffle; the per-series coefficient relation broadcasts back).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window as W

from yahoo_anomaly_detection_spark import caching
from yahoo_anomaly_detection_spark.functions.comoments import (
    OLS, PEARSON, Fit, comoments, comoments_sql, ols_slope, ols_slope_sql,
    pearson, pearson_sql,
)
from yahoo_anomaly_detection_spark.functions.portable import portable_round
from yahoo_anomaly_detection_spark.functions.tiers import mean_tier_sql

_R = 4

# consistency constant: MAD·1.4826 estimates σ for Gaussian data, so
# k keeps its familiar "k sigmas" reading (scipy/statsmodels default)
MAD_SIGMA = 1.4826

_CAL_UNIT = {60: "minute", 3600: "hour", 86400: "day"}

_PHASE_EXTRACT = {"minute_of_hour": F.minute, "hour_of_day": F.hour}


def _phase_expr(phase: str, ts_col: str):
    """Seasonal-phase column shared by seasonal_zscore / stl_lite."""
    if phase not in _PHASE_EXTRACT:
        raise ValueError(
            f"phase must be one of {sorted(_PHASE_EXTRACT)}, got {phase!r}")
    return _PHASE_EXTRACT[phase](F.col(ts_col).cast("timestamp"))


def _bucket_expr(ts_col: str, secs: int):
    """Event-time bucket start. Calendar-aligned seconds use
    ``date_trunc`` (the tier idiom rollup.py uses, oracle-proven);
    anything else floors the epoch directly."""
    ts = F.col(ts_col).cast("timestamp")
    if secs in _CAL_UNIT:
        return F.date_trunc(_CAL_UNIT[secs], ts)
    return F.timestamp_seconds(
        F.floor(F.unix_micros(ts) / F.lit(secs * 1_000_000)) * F.lit(secs)
    )


def _percentile(col, q: float, rel_error: float | None):
    if rel_error is None:
        return F.percentile(col, q)
    if not 0.0 < rel_error <= 0.5:
        raise ValueError(f"rel_error must be in (0, 0.5], got {rel_error}")
    return F.approx_percentile(col, F.lit(q), F.lit(math.ceil(1.0 / rel_error)))


def robust_flags(df: DataFrame, value_col: str, k: float = 3.0,
                 keys: tuple[str, ...] = ("conv_id",),
                 rel_error: float | None = None) -> DataFrame:
    """Robust per-series anomaly envelope: flag where
    |x − median| > k · 1.4826 · MAD.

    The median/MAD twin of the reference's mean/std z-score envelope
    (/root/reference/StatsTesting/arma_anm_detc.py:62-65) — immune to
    the outliers it is hunting, which inflate a mean/std threshold
    and mask each other. Output: input columns + ``med``, ``mad``,
    ``flag`` (0/1; a single-row series yields MAD 0.0 and flag 0 —
    ``0 > 0`` is false; MAD is NULL only when every value in the
    series is NULL, and NULL comparisons also flag 0).

    The input relation feeds three consumers (the median aggregate,
    the MAD aggregate, and the final probe), so it is materialized
    through the caching registry — the CALLER releases it after its
    action (``caching.scope()`` / ``release_all()``), the same
    contract as the dedup/gap-fill operators.

    ``rel_error=None`` (oracle path): exact linear-interpolated
    percentiles (≡ DuckDB ``median``/``quantile_cont``). ``rel_error=r``:
    mergeable ``approx_percentile`` sketch — no per-group reducer
    sort, for series that outgrow a task.
    """
    from yahoo_anomaly_detection_spark import caching

    if rel_error is not None and not 0.0 < rel_error <= 0.5:
        raise ValueError(f"rel_error must be in (0, 0.5], got {rel_error}")
    key_cols = list(keys)
    v = F.col(value_col)
    df = caching.materialize(df)
    med = df.groupBy(*key_cols).agg(
        _percentile(v, 0.5, rel_error).alias("med")
    )
    dev = df.join(med, on=key_cols).withColumn(
        "_adev", F.abs(v - F.col("med"))
    )
    mad = dev.groupBy(*key_cols).agg(
        _percentile(F.col("_adev"), 0.5, rel_error).alias("mad")
    )
    thr = F.lit(float(k)) * F.lit(MAD_SIGMA) * F.col("mad")
    return (
        dev.join(mad, on=key_cols)
        .withColumn(
            "flag",
            F.when(F.col("_adev") > thr, F.lit(1)).otherwise(F.lit(0)),
        )
        .drop("_adev")
    )


def counter_rate(events: DataFrame, bucket_seconds: int = 60,
                 key: str = "conv_id", ts_col: str = "ts",
                 value_col: str = "value",
                 order_cols: tuple[str, ...] = ()) -> DataFrame:
    """Prometheus-style ``increase``/``rate`` over a cumulative
    counter series, with counter-reset handling.

    Per series ordered by ``(ts, *order_cols)``: the per-sample
    increase is ``v − lag(v)`` when the counter moved forward, else
    ``v`` itself (a reset — the counter restarted from 0 and climbed
    to ``v``, the Prometheus convention). The first sample of a
    series has no baseline and is excluded (NULL increase). Buckets
    with only NULL increases still appear with ``increase = NULL``
    (their sample count ``n`` counts baselined samples only).

    Output: (key, bucket_start, n, increase, rate) with
    ``rate = increase / bucket_seconds``. NULL counter values are
    dropped up front — a missed scrape, not a reset.
    """
    pts = events.where(F.col(value_col).isNotNull())
    w = W.partitionBy(key).orderBy(ts_col, *order_cols)
    v = F.col(value_col).cast("double")
    prev = F.lag(v).over(w)
    inc = (
        F.when(prev.isNull(), F.lit(None).cast("double"))
        .when(v >= prev, v - prev)
        .otherwise(v)
    )
    secs = int(bucket_seconds)
    bucket = _bucket_expr(ts_col, secs)
    return (
        pts.select(F.col(key), F.col(ts_col), inc.alias("_inc"))
        .groupBy(F.col(key), bucket.alias("bucket_start"))
        .agg(
            F.count("_inc").alias("n"),
            portable_round(F.sum("_inc"), _R).alias("increase"),
            portable_round(F.sum("_inc") / F.lit(float(secs)), _R)
            .alias("rate"),
        )
    )


def rate_range(events: DataFrame, window_seconds: int = 300,
               key: str = "conv_id", ts_col: str = "ts",
               value_col: str = "value",
               order_cols: tuple[str, ...] = ()) -> DataFrame:
    """Per-SAMPLE trailing-window counter rate — the PromQL
    ``rate(m[5m])`` evaluation :func:`counter_rate` (bucketed) can't
    give: at every sample, the reset-corrected increase over the
    half-open trailing time window ``(t − w, t]`` and its per-second
    rate, exact under irregular sampling (a RANGE frame on epoch
    micros — the :func:`~.alerting.slo_burn` frame idiom — so sparse
    and bursty series weigh by actual time, not row count). This is
    the alerting-side primitive ("rate over the last 5 minutes, NOW")
    that bucket rollups approximate with bucket-aligned edges.

    Reset handling matches ``counter_rate``: per-sample increase is
    ``v − lag(v)`` when the counter moved forward, ``v`` after a
    reset (counter restarted from 0), NULL for the series' first
    sample. A window containing no baselined sample yields NULL
    increase/rate (unknowable, not zero).

    Scale shape: the lag window and the trailing RANGE-sum window
    both partition by the series key, so the corpus crosses ONE hash
    exchange; the frame bound is a constant, per-task state is one
    running frame. No join, no groupBy.

    Output: input identity columns + (increase_w, rate_per_s).
    """
    w_s = int(window_seconds)
    if w_s < 1:
        raise ValueError(f"window_seconds must be >= 1, got {window_seconds}")
    pts = events.where(F.col(value_col).isNotNull())
    w_lag = W.partitionBy(key).orderBy(ts_col, *order_cols)
    v = F.col(value_col).cast("double")
    prev = F.lag(v).over(w_lag)
    inc = (
        F.when(prev.isNull(), F.lit(None).cast("double"))
        .when(v >= prev, v - prev)
        .otherwise(v)
    )
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    w_range = (
        W.partitionBy(key).orderBy(us)
        .rangeBetween(-(w_s * 1_000_000 - 1), 0)
    )
    win_inc = F.sum(inc).over(w_range)
    return pts.select(
        key, *order_cols, ts_col,
        v.alias("value"),
        portable_round(win_inc, _R).alias("increase_w"),
        portable_round(win_inc / F.lit(float(w_s)), _R).alias("rate_per_s"),
    )


def _rate_range_sql(window_seconds: int) -> str:
    us_bound = int(window_seconds) * 1_000_000 - 1
    return f"""
WITH pts AS (
    SELECT CAST(user_id AS VARCHAR) AS conv_id, event_id, ts,
           CAST(value AS DOUBLE) AS v, epoch_us(ts) AS us
    FROM events WHERE value IS NOT NULL
),
inc AS (
    SELECT conv_id, event_id, ts, v, us,
           CASE WHEN lag(v) OVER w1 IS NULL THEN NULL
                WHEN v >= lag(v) OVER w1 THEN v - lag(v) OVER w1
                ELSE v END AS inc
    FROM pts
    WINDOW w1 AS (PARTITION BY conv_id ORDER BY ts, event_id)
)
SELECT conv_id, event_id, ts, v AS value,
       round(sum(inc) OVER w2, 4) AS increase_w,
       round(sum(inc) OVER w2 / {float(window_seconds)}, 4) AS rate_per_s
FROM inc
WINDOW w2 AS (PARTITION BY conv_id ORDER BY us
              RANGE BETWEEN {us_bound} PRECEDING AND CURRENT ROW)
"""


def turn_taking(events: DataFrame, key: str = "user_id",
                role_col: str = "event_type", ts_col: str = "ts",
                order_cols: tuple[str, ...] = ("event_id",)) -> DataFrame:
    """Per-conversation turn-taking profile over a transcript-shaped
    event log (BASELINE input_hint: turns carry a ``role``; the
    driver's ``events.event_type`` plays that column).

    Output per key: ``n_turns``, ``n_roles`` (distinct), an exact
    ``n_switches`` (adjacent turns whose role differs, under the
    stable ``(ts, *order_cols)`` total order), and inter-turn gap
    stats ``mean_gap_s`` / ``max_gap_s`` (NULL for single-turn
    conversations).
    """
    w = W.partitionBy(key).orderBy(ts_col, *order_cols)
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    role = F.col(role_col)
    gap = (us - F.lag(us).over(w)) / F.lit(1e6)
    switch = F.when(
        F.lag(role).over(w).isNotNull() & (F.lag(role).over(w) != role), 1
    ).otherwise(0)
    return (
        events.select(
            F.col(key), role, switch.alias("_sw"), gap.alias("_gap")
        )
        .groupBy(key)
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.countDistinct(role).alias("n_roles"),
            F.sum("_sw").alias("n_switches"),
            portable_round(F.avg("_gap"), _R).alias("mean_gap_s"),
            portable_round(F.max("_gap"), _R).alias("max_gap_s"),
        )
    )


def time_weighted_avg(events: DataFrame, bucket_seconds: int = 3600,
                      key: str = "conv_id", ts_col: str = "ts",
                      value_col: str = "value",
                      order_cols: tuple[str, ...] = ()) -> DataFrame:
    """Time-weighted average per (series, bucket) — the TimescaleDB
    ``time_weight('linear')`` shape: trapezoidal integral of the
    linearly-interpolated series over the bucket, divided by the
    observed span.

    Weighting is within-bucket only (no cross-bucket carry): for
    samples t₁…tₙ in a bucket, twa = Σ (vᵢ+vᵢ₊₁)/2 · (tᵢ₊₁−tᵢ) /
    (tₙ−t₁). A bucket whose samples all share one timestamp (n=1, or
    exact duplicates) has zero span; twa falls back to the plain mean
    of those samples. Duplicate timestamps contribute zero-width
    trapezoids (weight 0) BETWEEN the tied rows, but the pairing
    across a tie group's boundary depends on order — pass
    ``order_cols`` (e.g. the event id) to make the order total and
    the result deterministic and engine-portable. NULL values are
    dropped.

    Output: (key, bucket_start, n, span_s, twa).
    """
    pts = events.where(F.col(value_col).isNotNull())
    secs = int(bucket_seconds)
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    bucket = _bucket_expr(ts_col, secs)
    v = F.col(value_col).cast("double")
    base = pts.select(
        F.col(key),
        bucket.alias("bucket_start"),
        us.alias("_us"),
        v.alias("_v"),
        *[F.col(c) for c in order_cols],
    )
    w = W.partitionBy(key, "bucket_start").orderBy("_us", *order_cols)
    nxt_us = F.lead("_us").over(w)
    nxt_v = F.lead("_v").over(w)
    area = F.when(
        nxt_us.isNotNull(),
        (F.col("_v") + nxt_v) / 2.0 * (nxt_us - F.col("_us")) / F.lit(1e6),
    )
    return (
        base.select(
            F.col(key), "bucket_start", "_us", "_v", area.alias("_area")
        )
        .groupBy(key, "bucket_start")
        .agg(
            F.count(F.lit(1)).alias("n"),
            ((F.max("_us") - F.min("_us")) / F.lit(1e6)).alias("span_s"),
            F.avg("_v").alias("_mean"),
            F.sum("_area").alias("_int"),
        )
        .select(
            F.col(key),
            "bucket_start",
            "n",
            portable_round(F.col("span_s"), _R).alias("span_s"),
            portable_round(
                F.when(F.col("span_s") > 0, F.col("_int") / F.col("span_s"))
                .otherwise(F.col("_mean")),
                _R,
            ).alias("twa"),
        )
    )


def segmented_holt(values: np.ndarray, seg_starts: np.ndarray,
                   alpha: float, beta: float) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized Holt double-exponential smoothing over many
    variable-length segments.

    l_t = α·x_t + (1−α)·(l_{t−1} + b_{t−1});
    b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}; l_0 = x_0, b_0 = 0.

    Same position-major block-scan layout as
    :func:`stats.segmented_ewma` (segments ordered by length DESC so
    the rows at position t are an aligned prefix of position t−1),
    carrying TWO state vectors per step. The scalar-tail hybrid that
    segmented_ewma adds for few-long-segments inputs is omitted here
    — add it per that function if a hot-conversation profile ever
    dominates a Holt job.
    """
    from yahoo_anomaly_detection_spark.operators.stats import (
        position_major_layout,
    )

    n = len(values)
    if n == 0:
        return np.empty(0, np.float64), np.empty(0, np.float64)
    x = np.asarray(values, np.float64)
    perm, k, bs, _, max_len = position_major_layout(seg_starts, n)
    xs = x[perm]
    ls = xs.copy()
    ts = np.zeros(n, np.float64)
    a, b = float(alpha), float(beta)
    for t in range(1, max_len):
        kt = k[t]
        lo, plo = bs[t], bs[t - 1]
        prev_l = ls[plo: plo + kt]
        prev_b = ts[plo: plo + kt]
        new_l = a * xs[lo: lo + kt] + (1.0 - a) * (prev_l + prev_b)
        ls[lo: lo + kt] = new_l
        ts[lo: lo + kt] = b * (new_l - prev_l) + (1.0 - b) * prev_b
    out_l = np.empty(n, np.float64)
    out_b = np.empty(n, np.float64)
    out_l[perm] = ls
    out_b[perm] = ts
    return out_l, out_b


def holt(df: DataFrame, value_col: str, alpha: float = 0.3,
         beta: float = 0.1, keys: tuple[str, ...] = ("conv_id",),
         order_col: str = "bucket_start") -> DataFrame:
    """Holt double-exponential smoothing (level + trend) per series —
    the two-state member of the recursive-scan family (SURVEY W5)
    next to :func:`stats.ewma`'s one-state recursion. Runs through
    the shared :func:`stats.segmented_scan` scaffold; adds ``level``
    and ``trend`` columns.
    """
    from yahoo_anomaly_detection_spark.operators.stats import segmented_scan

    def kernel(pdf, starts):
        lvl, trd = segmented_holt(
            pdf[value_col].to_numpy(np.float64), starts, alpha, beta,
        )
        return {"level": lvl, "trend": trd}

    return segmented_scan(
        df, keys, order_col,
        [("level", T.DoubleType(), "float64"),
         ("trend", T.DoubleType(), "float64")],
        kernel,
    )


def segmented_holt_winters(
        values: np.ndarray, seg_starts: np.ndarray, alpha: float,
        beta: float, gamma: float, m: int,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized additive Holt-Winters (level + trend + m-periodic
    seasonal) over many variable-length segments — the 2+m-state
    member of the recursive-scan family after :func:`segmented_holt`.

    With s_prev = s[t mod m] (the seasonal slot last updated m steps
    ago; position-indexed seasonality — period counted from each
    series' first sample):

    l_t = α·(x_t − s_prev) + (1−α)·(l_{t−1} + b_{t−1});
    b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1};
    s_t = γ·(x_t − l_t) + (1−γ)·s_prev.

    Init: l_0 = x_0, b_0 = 0, all seasonal slots 0 (so s_0 =
    γ·(x_0 − l_0) = 0 — consistent with the zero-filled buffer).

    Same position-major layout as the EWMA/Holt/CUSUM kernels; the
    seasonal buffer is an (m, #segments) matrix whose row t mod m is
    read and written each step — because position t is the SAME
    phase for every segment (phase counts from segment start), one
    vector op per step still serves all segments.
    """
    from yahoo_anomaly_detection_spark.operators.stats import (
        position_major_layout,
    )

    n = len(values)
    empty = np.empty(0, np.float64)
    if n == 0:
        return empty, empty, empty
    x = np.asarray(values, np.float64)
    perm, k, bs, _, max_len = position_major_layout(seg_starts, n)
    xs = x[perm]
    g = int(k[0])
    ls = xs.copy()                      # level output (position-major)
    ts = np.zeros(n, np.float64)        # trend output
    ss = np.zeros(n, np.float64)        # seasonal output
    seas = np.zeros((m, g), np.float64)  # live per-slot state
    a, b, c = float(alpha), float(beta), float(gamma)
    for t in range(1, max_len):
        kt = k[t]
        lo, plo = bs[t], bs[t - 1]
        cur = xs[lo: lo + kt]
        sp = seas[t % m][:kt]
        prev_l = ls[plo: plo + kt]
        prev_b = ts[plo: plo + kt]
        new_l = a * (cur - sp) + (1.0 - a) * (prev_l + prev_b)
        new_s = c * (cur - new_l) + (1.0 - c) * sp
        ls[lo: lo + kt] = new_l
        ts[lo: lo + kt] = b * (new_l - prev_l) + (1.0 - b) * prev_b
        ss[lo: lo + kt] = new_s
        seas[t % m][:kt] = new_s
    out = []
    for arr in (ls, ts, ss):
        o = np.empty(n, np.float64)
        o[perm] = arr
        out.append(o)
    return tuple(out)


def holt_winters(df: DataFrame, value_col: str, alpha: float = 0.3,
                 beta: float = 0.1, gamma: float = 0.2, m: int = 4,
                 keys: tuple[str, ...] = ("conv_id",),
                 order_col: str = "bucket_start") -> DataFrame:
    """Additive Holt-Winters smoothing (level + trend + m-periodic
    seasonal) per series — the seasonal completion of the
    recursive-scan family (SURVEY W5): :func:`stats.ewma` carries one
    state, :func:`holt` two, this 2+m. Runs through the shared
    :func:`stats.segmented_scan` scaffold; adds ``level``, ``trend``
    and ``seasonal`` columns. Seasonality is position-indexed (phase
    = sample index mod m from the series' first sample) so the
    recursion is deterministic under the key/order sort.
    """
    if m < 2:
        raise ValueError(f"m must be >= 2, got {m}")
    from yahoo_anomaly_detection_spark.operators.stats import segmented_scan

    def kernel(pdf, starts):
        lvl, trd, sea = segmented_holt_winters(
            pdf[value_col].to_numpy(np.float64), starts, alpha, beta,
            gamma, m,
        )
        return {"level": lvl, "trend": trd, "seasonal": sea}

    return segmented_scan(
        df, keys, order_col,
        [("level", T.DoubleType(), "float64"),
         ("trend", T.DoubleType(), "float64"),
         ("seasonal", T.DoubleType(), "float64")],
        kernel,
    )


def hampel_flags(tier_df: DataFrame, value_col: str, k: int = 3,
                 nsig: float = 3.0, key: str = "conv_id",
                 bucket_col: str = "bucket_start") -> DataFrame:
    """Hampel despiking filter per series: flag samples more than
    ``nsig`` scaled MADs from the CENTERED rolling median over the
    ±k-sample frame — the classic single-spike remover (a lone spike
    cannot drag a median the way it drags :func:`robust_flags`'
    global envelope or a rolling mean; scale 1.4826·MAD ≈ σ under
    normality). MAD = 0 (locally constant frame) flags ANY deviation,
    the standard Hampel convention.

    Spark has no ``median`` over a window frame
    (INVALID_WINDOW_SPEC_FOR_AGGREGATION_FUNC — verified on 4.1), so
    the frame is materialized once with ``collect_list().over(frame)``
    and the median/MAD fall out of JVM array expressions on the
    sorted copy: with a 1-based sorted array of n elements,
    median = (a[(n+1) div 2] + a[n div 2 + 1]) / 2 covers odd and
    even n in one branch-free formula (odd → both indexes coincide).
    The DuckDB oracle uses the IDENTICAL array formula — not its
    native ``median()`` — so interpolation semantics can never drift.

    Shape: ONE hash exchange on the series key; the single Window
    operator carries the one collect_list; everything downstream is
    per-row array math inside codegen-adjacent expressions. Per-row
    state is the 2k+1-element frame — bounded by the parameter, not
    the data.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    w = W.partitionBy(key).orderBy(bucket_col).rowsBetween(-k, k)
    v = F.col(value_col).cast("double")
    t = tier_df.select(
        key, bucket_col, v.alias("_v"),
    ).withColumn("_arr", F.sort_array(F.collect_list("_v").over(w)))
    med = (
        F.expr("element_at(_arr, cast((size(_arr) + 1) div 2 as int))")
        + F.expr("element_at(_arr, cast(size(_arr) div 2 + 1 as int))")
    ) / 2.0
    t = t.withColumn("_med", med).withColumn(
        "_dev", F.expr("sort_array(transform(_arr, x -> abs(x - _med)))")
    )
    mad = (
        F.expr("element_at(_dev, cast((size(_dev) + 1) div 2 as int))")
        + F.expr("element_at(_dev, cast(size(_dev) div 2 + 1 as int))")
    ) / 2.0
    t = t.withColumn("_mad", mad)
    flag = (F.abs(F.col("_v") - F.col("_med"))
            > F.lit(nsig * 1.4826) * F.col("_mad"))
    return t.select(
        key, bucket_col,
        portable_round(F.col("_v"), _R).alias("value"),
        portable_round(F.col("_med"), _R).alias("rolling_med"),
        portable_round(F.col("_mad"), _R).alias("rolling_mad"),
        flag.cast("int").alias("flag"),
    )


def ewma_chart(tier_df: DataFrame, value_col: str, alpha: float = 0.3,
               big_l: float = 3.0, key: str = "conv_id",
               bucket_col: str = "bucket_start") -> DataFrame:
    """EWMA control chart (Roberts 1959; Lucas & Saccucci 1990) per
    series: flag where |z_t − μ| exceeds L·σ_z(t), the TIME-VARYING
    control limit of the EWMA statistic — tighter than the raw
    z-score envelope because the EWMA variance is only a
    λ/(2−λ) fraction of the sample variance at steady state, so the
    chart catches small sustained shifts points-wise envelopes miss
    (the same target as CUSUM, in chart form).

    z follows the engine's :func:`stats.ewma` recursion (z_0 = x_0,
    NOT the textbook z_0 = μ), so the exact matching variance is used:
    Var(z_t) = σ²·[(1−λ)^{2t} + λ/(2−λ)·(1−(1−λ)^{2t})] for iid x
    (the (1−λ)^{2t} term carries the x_0 seed; at t=0 the limit is
    exactly L·σ). μ, σ are the per-series full-history mean and
    population std.

    Shape: the recursion runs through the shared mapInPandas scan
    (one key exchange); the μ/σ window and the position index reuse
    that key partitioning — no second corpus exchange.
    """
    if not 0 < alpha <= 1:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    from yahoo_anomaly_detection_spark.operators.stats import ewma

    base = tier_df.select(
        key, bucket_col, F.col(value_col).cast("double").alias("_v"))
    e = ewma(base, "_v", alpha, keys=(key,), order_col=bucket_col,
             out_col="_z")
    w_all = W.partitionBy(key)
    w_ord = W.partitionBy(key).orderBy(bucket_col)
    lam = float(alpha)
    t = (F.row_number().over(w_ord) - 1).cast("double")
    decay = F.pow(F.lit(1.0 - lam), 2.0 * t)
    e = e.withColumn("_mu", F.avg("_v").over(w_all)).withColumn(
        "_sig", F.stddev_pop("_v").over(w_all))
    lim = F.lit(big_l) * F.col("_sig") * F.sqrt(
        decay + F.lit(lam / (2.0 - lam)) * (F.lit(1.0) - decay))
    e = e.withColumn("_lim", lim)
    return e.select(
        key, bucket_col,
        portable_round(F.col("_v"), _R).alias("value"),
        portable_round(F.col("_z"), _R).alias("ewma"),
        portable_round(F.col("_lim"), _R).alias("limit"),
        (F.abs(F.col("_z") - F.col("_mu")) > F.col("_lim"))
        .cast("int").alias("flag"),
    )


def kalman_gains(max_len: int, q: float, r: float) -> np.ndarray:
    """Kalman gain sequence of the local-level model — DATA-INDEPENDENT
    (the variance recursion never reads the observations), so the whole
    filter collapses to a time-varying EWMA with precomputed weights:

        P₀ = r (diffuse-prior posterior: lim K₀ = 1);
        Pₚ = P + q;  K = Pₚ/(Pₚ + r);  P ← (1−K)·Pₚ.

    With q = 0 and P₀ = r this gives K_t = 1/(t+1) exactly — the
    running mean (pinned in pytest); q > 0 converges K to the steady
    state (q + √(q² + 4qr)) / (q + √(q² + 4qr) + 2r).
    """
    gains = np.empty(max_len, np.float64)
    gains[0] = 1.0
    p = float(r)
    for t in range(1, max_len):
        pp = p + q
        g = pp / (pp + r)
        gains[t] = g
        p = (1.0 - g) * pp
    return gains


def segmented_kalman(values: np.ndarray, seg_starts: np.ndarray,
                     q: float, r: float) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized local-level Kalman filter over many variable-length
    segments: level ← level + K_t·(x − level) with the precomputed
    :func:`kalman_gains` sequence (position-indexed — every segment's
    variance recursion starts from the same diffuse prior). Same
    position-major block-scan layout as :func:`segmented_holt`.
    Returns (level, gain-per-row)."""
    from yahoo_anomaly_detection_spark.operators.stats import (
        position_major_layout,
    )

    n = len(values)
    if n == 0:
        return np.empty(0, np.float64), np.empty(0, np.float64)
    x = np.asarray(values, np.float64)
    perm, k, bs, _, max_len = position_major_layout(seg_starts, n)
    xs = x[perm]
    ls = xs.copy()
    gs = np.empty(n, np.float64)
    gs[bs[0]: bs[0] + k[0]] = 1.0
    gains = kalman_gains(max_len, q, r)
    for t in range(1, max_len):
        kt = k[t]
        lo, plo = bs[t], bs[t - 1]
        g = gains[t]
        prev = ls[plo: plo + kt]
        ls[lo: lo + kt] = prev + g * (xs[lo: lo + kt] - prev)
        gs[lo: lo + kt] = g
    out_l = np.empty(n, np.float64)
    out_g = np.empty(n, np.float64)
    out_l[perm] = ls
    out_g[perm] = gs
    return out_l, out_g


def kalman_level(df: DataFrame, value_col: str, q: float = 0.2,
                 r: float = 1.0, keys: tuple[str, ...] = ("conv_id",),
                 order_col: str = "bucket_start") -> DataFrame:
    """Local-level Kalman filter per series (the state-space smoother
    behind every "adaptive baseline" dashboard): observation
    x_t = μ_t + ε (var r), state μ_t = μ_{t−1} + η (var q). Unlike
    EWMA's fixed α, the gain adapts — high while the level estimate is
    uncertain (early samples), settling to the steady state q/r
    dictates. The one-state-plus-variance member of the recursive-scan
    family (ewma 1 → this 1+P → holt 2 → holt_winters 2+m); because
    the variance recursion is data-independent the filter runs as a
    time-varying-weight block scan through the shared
    :func:`stats.segmented_scan` scaffold. Adds ``level`` (posterior
    mean) and ``gain`` (K_t) columns; the innovation x − prior-mean is
    recoverable downstream as (x − level) / (1 − gain) where gain < 1.
    """
    if q < 0 or r <= 0:
        raise ValueError(f"need q >= 0, r > 0; got q={q}, r={r}")
    from yahoo_anomaly_detection_spark.operators.stats import segmented_scan

    def kernel(pdf, starts):
        lvl, g = segmented_kalman(
            pdf[value_col].to_numpy(np.float64), starts, q, r,
        )
        return {"level": lvl, "gain": g}

    return segmented_scan(
        df, keys, order_col,
        [("level", T.DoubleType(), "float64"),
         ("gain", T.DoubleType(), "float64")],
        kernel,
    )


def segmented_cusum(dev: np.ndarray, seg_starts: np.ndarray) -> np.ndarray:
    """Vectorized one-sided CUSUM over many variable-length segments:
    S_t = max(0, S_{t−1} + dev_t), S_0 = 0 — so S_1 = max(0, dev_1).

    Same position-major block-scan layout as the EWMA/Holt kernels;
    the deviations (x − μ − slack, already per-row) come in as one
    array, so the recursion is one ``np.maximum`` per position block.
    """
    from yahoo_anomaly_detection_spark.operators.stats import (
        position_major_layout,
    )

    n = len(dev)
    if n == 0:
        return np.empty(0, np.float64)
    x = np.asarray(dev, np.float64)
    perm, k, bs, _, max_len = position_major_layout(seg_starts, n)
    xs = x[perm]
    ss = np.maximum(0.0, xs)  # position 0 of every segment
    for t in range(1, max_len):
        kt = k[t]
        lo, plo = bs[t], bs[t - 1]
        ss[lo: lo + kt] = np.maximum(
            0.0, ss[plo: plo + kt] + xs[lo: lo + kt]
        )
    out = np.empty(n, np.float64)
    out[perm] = ss
    return out


def cusum_flags(df: DataFrame, value_col: str, slack_k: float = 0.5,
                threshold_h: float = 5.0,
                keys: tuple[str, ...] = ("conv_id",),
                order_col: str = "bucket_start") -> DataFrame:
    """Two-sided tabular CUSUM drift detection per series (Page 1954,
    the standard change-point chart): S⁺_t = max(0, S⁺_{t−1} + x_t −
    μ − kσ), S⁻_t = max(0, S⁻_{t−1} + μ − x_t − kσ), flag when
    either side exceeds h·σ. Detects sustained LEVEL SHIFTS that
    point-wise envelopes (z-score/MAD) miss: many small same-sign
    deviations accumulate where no single one trips a threshold.

    μ/σ are per-series (population), computed as unbounded window
    aggregates over the SAME key partitioning the scan repartitions
    to; the per-row deviations stay JVM-side, so the Python kernel is
    just the max-recursion. Adds ``s_pos``, ``s_neg``, ``flag``.
    """
    from yahoo_anomaly_detection_spark.operators.stats import segmented_scan

    key_cols = list(keys)
    v = F.col(value_col).cast("double")
    w_key = W.partitionBy(*key_cols)
    slack = F.lit(float(slack_k)) * F.stddev_pop(v).over(w_key)
    mu = F.avg(v).over(w_key)
    base = (
        df.withColumn("_sigma", F.stddev_pop(v).over(w_key))
        .withColumn("_devp", v - mu - slack)
        .withColumn("_devn", mu - v - slack)
    )

    def kernel(pdf, starts):
        return {
            "s_pos": segmented_cusum(
                pdf["_devp"].to_numpy(np.float64), starts),
            "s_neg": segmented_cusum(
                pdf["_devn"].to_numpy(np.float64), starts),
        }

    scanned = segmented_scan(
        base, keys, order_col,
        [("s_pos", T.DoubleType(), "float64"),
         ("s_neg", T.DoubleType(), "float64")],
        kernel,
    )
    h_sigma = F.lit(float(threshold_h)) * F.col("_sigma")
    return scanned.withColumn(
        "flag",
        F.when(
            (F.col("s_pos") > h_sigma) | (F.col("s_neg") > h_sigma),
            F.lit(1),
        ).otherwise(F.lit(0)),
    ).drop("_devp", "_devn", "_sigma")


def ar2_residuals(df: DataFrame, value_col: str,
                  keys: tuple[str, ...] = ("conv_id",),
                  order_col: str = "bucket_start") -> DataFrame:
    """Per-series AR(2) fit (Yule-Walker, closed form) + one-step
    residuals — the distributed echo of the reference's ARIMA
    detector shape (/root/reference/StatsTesting/arma_anm_detc.py:
    50-53: fit a low-order AR model, residual = |prediction − value|
    feeds the envelope). The reference fits per-series with
    statsmodels on one machine; here the Yule-Walker equations are
    solved in-plan from lag-product AGGREGATES, so the fit is one
    shuffle of per-series sufficient statistics, never a per-series
    Python model object.

    Biased autocovariances c_k = Σ (x_t−μ)(x_{t−k}−μ) / n; AR(2)
    closed form φ1 = c1(c0−c2)/(c0²−c1²), φ2 = (c0c2−c1²)/(c0²−c1²).
    residual_t = d_t − φ1 d_{t−1} − φ2 d_{t−2} on the demeaned
    series (NULL for the first two samples of a series, for series
    shorter than 3, and for degenerate fits where c0²=c1², e.g.
    constant series). Adds ``phi1``, ``phi2``, ``resid``.

    Scale shape: ONE hash exchange on the series key serves
    everything — the per-series mean runs as an unbounded window
    aggregate (not a groupBy + join-back, which would scan and
    shuffle the input twice), the lag windows and the covariance
    aggregate reuse the same clustering, and the tiny per-series
    coefficient relation joins back without a new exchange.
    """
    key_cols = list(keys)
    v = F.col(value_col).cast("double")
    w_key = W.partitionBy(*key_cols)
    w = w_key.orderBy(order_col)
    d = (v - F.avg(v).over(w_key)).alias("_d")
    lagged = (
        df.select("*", d)
        .select(
            "*",
            F.lag("_d", 1).over(w).alias("_d1"),
            F.lag("_d", 2).over(w).alias("_d2"),
        )
    )
    cov = lagged.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.col("_d") * F.col("_d")).alias("_s0"),
        F.sum(F.col("_d") * F.col("_d1")).alias("_s1"),
        F.sum(F.col("_d") * F.col("_d2")).alias("_s2"),
    )
    c0 = F.col("_s0") / F.col("_n")
    c1 = F.col("_s1") / F.col("_n")
    c2 = F.col("_s2") / F.col("_n")
    denom = c0 * c0 - c1 * c1
    coef = cov.select(
        *key_cols,
        F.when(denom != 0, c1 * (c0 - c2) / denom).alias("phi1"),
        F.when(denom != 0, (c0 * c2 - c1 * c1) / denom).alias("phi2"),
    )
    out = lagged.join(coef, on=key_cols).withColumn(
        "resid",
        F.col("_d")
        - F.col("phi1") * F.col("_d1")
        - F.col("phi2") * F.col("_d2"),
    )
    return out.drop("_d", "_d1", "_d2")


def candles(events: DataFrame, bucket_seconds: int = 3600,
            key: str = "conv_id", ts_col: str = "ts",
            value_col: str = "value",
            order_cols: tuple[str, ...] = ()) -> DataFrame:
    """OHLC candle rollup per (series, bucket): open (first value),
    high, low, close (last value), sample count — the downsample
    every timeseries dashboard renders.

    One map-side-combined aggregate: open/close via ``min_by`` /
    ``max_by`` on the total order ``(ts, *order_cols)`` (pass a
    tie-break column; with duplicate keys the winner is undefined
    and engine-dependent). No window, no sort — the shuffle carries
    one combined row per (key, bucket) from each map task.

    Output: (key, bucket_start, n, open, high, low, close).
    """
    pts = events.where(F.col(value_col).isNotNull())
    v = F.col(value_col).cast("double")
    ord_key = F.struct(F.col(ts_col), *[F.col(c) for c in order_cols])
    return (
        pts.groupBy(
            F.col(key), _bucket_expr(ts_col, int(bucket_seconds))
            .alias("bucket_start")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            portable_round(F.min_by(v, ord_key), _R).alias("open"),
            portable_round(F.max(v), _R).alias("high"),
            portable_round(F.min(v), _R).alias("low"),
            portable_round(F.max_by(v, ord_key), _R).alias("close"),
        )
    )


def m4(events: DataFrame, bucket_seconds: int = 3600,
       key: str = "conv_id", ts_col: str = "ts",
       value_col: str = "value",
       order_cols: tuple[str, ...] = ()) -> DataFrame:
    """M4 visualization downsampling (Jugel et al., "M4: A
    Visualization-Oriented Time Series Data Aggregation", VLDB 2014):
    per (series, pixel bucket) keep the four extremum points — first,
    last, lowest-value, highest-value — which provably suffice to
    render a pixel-perfect line chart at that bucket width. A
    width-w chart over 10^12 raw points ships 4·w rows per series.

    The candle rollup's (see :func:`candles`) sibling that also
    carries WHERE each extremum happened: ONE map-side-combined hash
    aggregate whose shuffle moves a single combined row per
    (key, bucket) from each map task — no window, no per-bucket sort,
    the correct 100 TB shape. ``min_by``/``max_by`` over composite
    orderings make every pick deterministic: first/last by
    ``(ts, *order_cols)``; low/high by value with ties broken by
    EARLIEST ``(ts, *order_cols)`` (the max side negates the
    tie-break, so ``order_cols`` must be numeric; pass a unique id
    when timestamps can collide).

    Output: (key, bucket_start, n, first_ts, first_v, last_ts,
    last_v, low_ts, low_v, high_ts, high_v).
    """
    pts = events.where(F.col(value_col).isNotNull())
    v = F.col(value_col).cast("double")
    ts = F.col(ts_col).cast("timestamp")
    us = F.unix_micros(ts)
    ords = [F.col(c).cast("long") for c in order_cols]
    tv = F.struct(ts.alias("ts"), v.alias("v"))
    ord_asc = F.struct(
        us.alias("us"),
        *[o.alias(f"o{i}") for i, o in enumerate(ords)])
    low_key = F.struct(
        v.alias("v"), us.alias("us"),
        *[o.alias(f"o{i}") for i, o in enumerate(ords)])
    # max_by maximizes; negating the tie-break longs turns "largest
    # value, then earliest occurrence" into one composite max
    high_key = F.struct(
        v.alias("v"), (-us).alias("nus"),
        *[(-o).alias(f"no{i}") for i, o in enumerate(ords)])
    agg = (
        pts.groupBy(
            F.col(key),
            _bucket_expr(ts_col, int(bucket_seconds)).alias("bucket_start"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min_by(tv, ord_asc).alias("_f"),
            F.max_by(tv, ord_asc).alias("_l"),
            F.min_by(tv, low_key).alias("_lo"),
            F.max_by(tv, high_key).alias("_hi"),
        )
    )
    return agg.select(
        key, "bucket_start", "n",
        F.col("_f.ts").alias("first_ts"),
        portable_round(F.col("_f.v"), _R).alias("first_v"),
        F.col("_l.ts").alias("last_ts"),
        portable_round(F.col("_l.v"), _R).alias("last_v"),
        F.col("_lo.ts").alias("low_ts"),
        portable_round(F.col("_lo.v"), _R).alias("low_v"),
        F.col("_hi.ts").alias("high_ts"),
        portable_round(F.col("_hi.v"), _R).alias("high_v"),
    )


# Gaussian equiprobable breakpoints (Lin et al. 2003, table 2) —
# symbol i covers the i-th of |alphabet| equal-probability slices of
# N(0,1); z is compared ROUNDED (portable_round) so both engines make
# the same boundary call.
SAX_BREAKPOINTS = {
    3: (-0.4307, 0.4307),
    4: (-0.6745, 0.0, 0.6745),
    5: (-0.8416, -0.2533, 0.2533, 0.8416),
}
_SAX_ALPHA = "abcde"


def sax_words(events: DataFrame, n_frames: int = 4, alphabet: int = 4,
              key: str = "conv_id", ts_col: str = "ts",
              value_col: str = "value") -> DataFrame:
    """PAA + SAX symbolization per (series, hour): split each hour
    into ``n_frames`` equal frames, average each frame (Piecewise
    Aggregate Approximation — Keogh et al. 2001), z-normalize the
    frame means against the SERIES' own global mean/std (population),
    and bin by the Gaussian equiprobable breakpoints into a
    ``n_frames``-character word (Symbolic Aggregate approXimation —
    Lin et al. 2003). The symbolic index every motif-discovery /
    similarity-search pipeline builds over raw telemetry: two hours
    with the same word are shape-similar regardless of level, and the
    word table is what gets inverted-indexed.

    Scale shape: per-series stats travel as ONE row per series
    (map-side-combined groupBy, broadcast back — never a window over
    the raw relation); the frame rollup is ONE map-side-combined
    ``groupBy(key, hour, frame)`` exchange of the raw points; the
    word assembly then rolls the already frame-sized relation up to
    (key, hour) — ``array_sort(collect_list(struct))`` is safe on
    ≤ ``n_frames`` rows per group and makes the concat order
    deterministic regardless of shuffle arrival. Frames with no
    samples are simply absent from the word (sparse hours yield
    shorter words; ``n_frames`` is the maximum length) — gap-filling
    first is :mod:`gapfill`'s job, deliberately not duplicated here.

    Output: (key, bucket_start, word, n_frames, n).
    """
    if alphabet not in SAX_BREAKPOINTS:
        raise ValueError(
            f"alphabet must be one of {sorted(SAX_BREAKPOINTS)}, "
            f"got {alphabet}")
    if 60 % n_frames != 0:
        raise ValueError(f"n_frames must divide 60, got {n_frames}")
    frame_minutes = 60 // n_frames

    pts = events.where(F.col(value_col).isNotNull())
    v = F.col(value_col).cast("double")
    ts = F.col(ts_col).cast("timestamp")

    stats = pts.groupBy(key).agg(
        F.avg(v).alias("_mu"), F.stddev_pop(v).alias("_sd"))

    frames = (
        pts.groupBy(
            F.col(key),
            F.date_trunc("hour", ts).alias("bucket_start"),
            F.floor(F.minute(ts) / F.lit(frame_minutes))
            .cast("int").alias("_frame"),
        )
        .agg(F.avg(v).alias("_fm"), F.count(F.lit(1)).alias("_n"))
    )

    z = portable_round(
        F.when(F.col("_sd") > 0,
               (F.col("_fm") - F.col("_mu")) / F.col("_sd"))
        .otherwise(F.lit(0.0)),
        _R,
    )
    sym = F.lit(_SAX_ALPHA[alphabet - 1])
    for i in range(alphabet - 2, -1, -1):
        sym = F.when(z < F.lit(SAX_BREAKPOINTS[alphabet][i]),
                     F.lit(_SAX_ALPHA[i])).otherwise(sym)

    symed = frames.join(F.broadcast(stats), key).select(
        key, "bucket_start", "_frame", "_n", sym.alias("_sym"))

    return (
        symed.groupBy(key, "bucket_start")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("_frame", "_sym"))),
                    lambda s: s["_sym"],
                ),
                "",
            ).alias("word"),
            F.count(F.lit(1)).cast("int").alias("n_frames"),
            F.sum("_n").alias("n"),
        )
    )


def _sax_sql(n_frames: int, alphabet: int) -> str:
    fm = 60 // n_frames
    bps = SAX_BREAKPOINTS[alphabet]
    case = "CASE " + " ".join(
        f"WHEN z < {bps[i]} THEN '{_SAX_ALPHA[i]}'"
        for i in range(alphabet - 1)
    ) + f" ELSE '{_SAX_ALPHA[alphabet - 1]}' END"
    return f"""
WITH pts AS (
    SELECT CAST(user_id AS VARCHAR) AS conv_id, ts,
           CAST(value AS DOUBLE) AS v
    FROM events WHERE value IS NOT NULL
),
st AS (SELECT conv_id, avg(v) AS mu, stddev_pop(v) AS sd
       FROM pts GROUP BY 1),
fr AS (
    SELECT conv_id, date_trunc('hour', ts) AS bucket_start,
           CAST(floor(minute(ts) / {fm}) AS INT) AS frame,
           avg(v) AS fm, count(*) AS n
    FROM pts GROUP BY 1, 2, 3
),
sym AS (
    SELECT fr.conv_id, bucket_start, frame, n, {case} AS s
    FROM (SELECT fr.*, round(CASE WHEN sd > 0 THEN (fm - mu) / sd
                                  ELSE 0.0 END, 4) AS z
          FROM fr JOIN st USING (conv_id)) fr
)
SELECT conv_id, bucket_start,
       string_agg(s, '' ORDER BY frame) AS word,
       CAST(count(*) AS INT) AS n_frames,
       CAST(sum(n) AS BIGINT) AS n
FROM sym GROUP BY 1, 2
"""


def sigma_clip(events: DataFrame, k: float = 3.0, rounds: int = 2,
               keys: tuple[str, ...] = ("conv_id",),
               bucket_seconds: int = 86400, ts_col: str = "ts",
               value_col: str = "value",
               id_cols: tuple[str, ...] = ("event_id",)) -> DataFrame:
    """Iterative sigma clipping per (series, bucket) — the
    masking-aware outlier pass (astropy ``sigma_clip`` semantics;
    the fixed-threshold cousin of the generalized-ESD family): round
    1 flags everything beyond k·σ of the FULL group's mean/std; each
    later round recomputes mean/std over the SURVIVORS only and
    flags again. A single-shot z-score envelope (``zscore_flags``)
    suffers masking — one huge spike inflates σ enough to hide
    smaller genuine outliers; recomputing after removal unmasks
    them. Output marks each point with the round that clipped it
    (0 = never clipped) plus the final round's rounded z.

    Scale shape: every round is a pair of unbounded-frame
    conditional aggregates over the SAME (keys, bucket) partition —
    Spark chains all ``rounds`` Window phases onto ONE hash exchange
    (the sessionize idiom), so the raw relation shuffles exactly
    once no matter how many rounds run. No per-round job, no
    driver-side loop state — the iteration is unrolled into the
    plan (rounds is a small compile-time constant, 2–4 in practice).

    z comparisons use the ROUNDED |z| (portable_round) so both
    engines make the same boundary call; σ = 0 (or a round that
    clipped everything) leaves remaining points unflagged — a
    constant survivor set is converged, matching the oracle branch.
    """
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    v = F.col(value_col).cast("double")
    df = events.where(v.isNotNull()).select(
        *keys, *id_cols,
        _bucket_expr(ts_col, int(bucket_seconds)).alias("bucket_start"),
        v.alias("_v"),
    )
    win = W.partitionBy(*keys, "bucket_start")
    clipped = F.lit(0)  # 0 = still in the survivor set
    z = F.lit(None).cast("double")
    for r in range(1, rounds + 1):
        keep = clipped == 0
        mu = F.avg(F.when(keep, F.col("_v"))).over(win)
        sd = F.stddev_pop(F.when(keep, F.col("_v"))).over(win)
        # try_divide, not /: ANSI mode raises on σ = 0; DuckDB's
        # float division by zero is NULL, so the branches agree
        zr = portable_round(
            F.try_divide(F.abs(F.col("_v") - mu), sd), _R)
        hit = keep & (zr > F.lit(k))
        df = df.select(
            "*",
            F.when(hit, F.lit(r)).otherwise(clipped).alias(f"_c{r}"),
            F.when(keep, zr).otherwise(z).alias(f"_z{r}"),
        )
        clipped = F.col(f"_c{r}")
        z = F.col(f"_z{r}")
    return df.select(
        *keys, *id_cols, "bucket_start",
        portable_round(F.col("_v"), _R).alias("value"),
        clipped.cast("int").alias("clipped_round"),
        z.alias("z_last"),
        (clipped > 0).cast("int").alias("flag"),
    )


def _sigma_clip_sql(k: float, rounds: int) -> str:
    body = """
pts AS (
    SELECT CAST(user_id AS VARCHAR) AS conv_id, event_id,
           date_trunc('day', ts) AS bucket_start,
           CAST(value AS DOUBLE) AS v
    FROM events WHERE value IS NOT NULL
),
r0 AS (SELECT conv_id, event_id, bucket_start, v,
              0 AS clipped_round, CAST(NULL AS DOUBLE) AS z
       FROM pts)"""
    for r in range(1, rounds + 1):
        body += f""",
r{r} AS (
    SELECT conv_id, event_id, bucket_start, v,
           CASE WHEN clipped_round = 0 AND zz > {k}
                THEN {r} ELSE clipped_round END AS clipped_round,
           CASE WHEN clipped_round = 0 THEN zz ELSE z END AS z
    FROM (
        SELECT *,
               round(abs(v - avg(CASE WHEN clipped_round = 0 THEN v END)
                             OVER w)
                     / stddev_pop(CASE WHEN clipped_round = 0 THEN v END)
                           OVER w, 4) AS zz
        FROM r{r - 1}
        WINDOW w AS (PARTITION BY conv_id, bucket_start)
    )
)"""
    return f"""
WITH {body}
SELECT conv_id, event_id, bucket_start, round(v, 4) AS value,
       CAST(clipped_round AS INT) AS clipped_round, z AS z_last,
       CAST(clipped_round > 0 AS INT) AS flag
FROM r{rounds}
"""


def changepoints(df: DataFrame, value_col: str, w: int = 10,
                 k: float = 3.0, keys: tuple[str, ...] = ("conv_id",),
                 order_col: str = "bucket_start") -> DataFrame:
    """Sliding two-window mean-shift changepoint score (the CUSUM
    chart's windowed cousin, and the standard online-segmentation
    primitive): at each sample compare the trailing ``w`` samples
    (excluding the current one) against the leading ``w`` (including
    it) with a Welch-style statistic
    ``|mean_r − mean_l| / sqrt(var_l/w + var_r/w)``; flag where both
    windows are full and the score exceeds ``k`` (an exact mean shift
    of a locally CONSTANT series — zero denominator with a nonzero
    shift — also flags). Where :func:`cusum_flags` accumulates drift
    against the global series mean, this localizes WHERE the level
    moved and is immune to earlier regime changes.

    All six frame aggregates (count/avg/var_pop × left/right) share
    one partition/order in a single select, so Spark evaluates them
    in one Window operator over ONE hash exchange — per-task input is
    one hash bucket of series, never the corpus.

    Output: input columns + ``mean_l``, ``mean_r``, ``score``
    (NULL until both frames exist or when both are constant),
    ``flag``.
    """
    if w < 2:
        raise ValueError(f"w must be >= 2, got {w}")
    v = F.col(value_col).cast("double")
    win = W.partitionBy(*keys).orderBy(order_col)
    wl = win.rowsBetween(-w, -1)
    wr = win.rowsBetween(0, w - 1)
    out = df.select(
        "*",
        F.count(v).over(wl).alias("_nl"),
        F.avg(v).over(wl).alias("mean_l"),
        F.var_pop(v).over(wl).alias("_vl"),
        F.count(v).over(wr).alias("_nr"),
        F.avg(v).over(wr).alias("mean_r"),
        F.var_pop(v).over(wr).alias("_vr"),
    )
    diff = F.abs(F.col("mean_r") - F.col("mean_l"))
    denom = F.sqrt(F.col("_vl") / w + F.col("_vr") / w)
    full = (F.col("_nl") == w) & (F.col("_nr") == w)
    flag = (
        full
        & F.when(denom > 0, (diff / denom) > F.lit(float(k)))
        .otherwise(diff > 0)
    ).cast("int")
    return (
        out.withColumn(
            "score", portable_round(F.when(denom > 0, diff / denom), _R))
        .withColumn("flag", F.coalesce(flag, F.lit(0)))
        .withColumn("mean_l", portable_round(F.col("mean_l"), _R))
        .withColumn("mean_r", portable_round(F.col("mean_r"), _R))
        .drop("_nl", "_vl", "_nr", "_vr")
    )


def seasonal_zscore(df: DataFrame, value_col: str,
                    ts_col: str = "bucket_start",
                    phase: str = "minute_of_hour", k: float = 3.0,
                    keys: tuple[str, ...] = ("conv_id",)) -> DataFrame:
    """Seasonal-profile anomaly flags: compare each sample against
    the mean/std of its own seasonal phase (same minute-of-hour /
    hour-of-day across the series' history), so a recurring daily
    spike stops looking anomalous and a deviation from the usual
    pattern does.

    Per (key, phase): population mean/std over the whole series;
    flag where |x − phase_mean| > k · phase_std (0 when the phase
    has no spread — a single-sample or constant phase defines no
    scale). Plain grouped aggregate + hash join back on
    (key, phase) — group stats travel as one row per (key, phase),
    never a per-key window sort.

    Output: input columns + ``phase``, ``phase_mean``, ``phase_std``,
    ``flag``.
    """
    key_cols = list(keys)
    v = F.col(value_col).cast("double")
    base = df.withColumn("phase", _phase_expr(phase, ts_col))
    prof = base.groupBy(*key_cols, "phase").agg(
        F.avg(v).alias("phase_mean"),
        F.stddev_pop(v).alias("phase_std"),
    )
    flagged = base.join(prof, on=key_cols + ["phase"]).withColumn(
        "flag",
        F.when(
            F.abs(v - F.col("phase_mean"))
            > F.lit(float(k)) * F.col("phase_std"),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    return flagged


def stl_lite(df: DataFrame, value_col: str,
             trend_halfwidth: int = 5,
             phase: str = "minute_of_hour",
             ts_col: str = "bucket_start",
             keys: tuple[str, ...] = ("conv_id",)) -> DataFrame:
    """STL-lite decomposition: value = trend + seasonal + resid.

    The classical-decomposition skeleton (what
    ``statsmodels.seasonal_decompose`` computes before the reference
    plots it) expressed in three window passes:

    - ``trend``: centered rows-based rolling mean over
      ``[−h, +h]`` per series (edges average whatever rows exist —
      rows-frame semantics are identical across engines);
    - ``seasonal``: mean of the detrended value per (series,
      seasonal phase);
    - ``resid``: what's left.

    Scale shape: ONE hash exchange on the series key — the phase
    window's (key, phase) clustered distribution is satisfied by the
    key partitioning, so the second window adds only a sort, and a
    third window is avoided entirely by deriving resid in the same
    projection.
    """
    phase_col = _phase_expr(phase, ts_col)  # validates phase up front
    key_cols = list(keys)
    v = F.col(value_col).cast("double")
    h = int(trend_halfwidth)
    w_trend = (
        W.partitionBy(*key_cols).orderBy(ts_col).rowsBetween(-h, h)
    )
    base = df.withColumn("trend", F.avg(v).over(w_trend)).withColumn(
        "phase", phase_col
    )
    w_phase = W.partitionBy(*key_cols, "phase")
    detr = v - F.col("trend")
    return base.withColumn(
        "seasonal", F.avg(detr).over(w_phase)
    ).withColumn("resid", detr - F.col("seasonal"))


def season_strength(df: DataFrame, value_col: str,
                    trend_halfwidth: int = 5,
                    phase: str = "minute_of_hour",
                    ts_col: str = "bucket_start",
                    keys: tuple[str, ...] = ("conv_id",)) -> DataFrame:
    """Forecastability triage per series: trend strength
    ``max(0, 1 − var(resid)/var(trend + resid))`` and seasonal
    strength ``max(0, 1 − var(resid)/var(seasonal + resid))`` over the
    :func:`stl_lite` components (Hyndman & Athanasopoulos, *FPP*
    §13.2 / the `tsfeatures` STL features). This is the fleet-wide
    read-out that routes series to models: strength ≈ 1 → the
    component explains the series (use :func:`holt` /
    :func:`holt_winters`); ≈ 0 → noise (a naive/mean forecast is
    already optimal, cf. ``snaive_eval``). Population variance
    (ddof=0) per the engine's numpy-matching convention (SURVEY A2).

    Degenerate groups are NULL on both engines: a component whose
    denominator variance is 0 (constant series → trend+resid
    constant) yields NULL strength, never a 0/0.

    Scale shape: rides the stl_lite exchange — the strength rollup
    groups by the SAME series key the decomposition windows partition
    by, so the aggregate reuses that partitioning (no second corpus
    exchange); output is series-cardinality-sized.
    """
    stl = stl_lite(df, value_col, trend_halfwidth, phase, ts_col, keys)
    key_cols = list(keys)

    def strength(component: str) -> Column:
        vd = F.var_pop(F.col(component) + F.col("resid"))
        vr = F.var_pop(F.col("resid"))
        return F.when(
            vd > 0, F.greatest(F.lit(0.0), F.lit(1.0) - vr / vd)
        ).otherwise(F.lit(None).cast("double"))

    return stl.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("n_points"),
        portable_round(strength("trend"), 4).alias("trend_strength"),
        portable_round(strength("seasonal"), 4).alias("seasonal_strength"),
    )


def lttb(df: DataFrame, value_col: str, n_out: int = 20,
         keys: tuple[str, ...] = ("conv_id",),
         ts_col: str = "bucket_start") -> DataFrame:
    """Largest-Triangle-Three-Buckets downsampling per series — the
    standard dashboard decimation (Steinarsson 2013): keep the first
    and last points, split the interior into ``n_out − 2`` equal
    index-buckets, and from each bucket keep the point forming the
    largest triangle with the PREVIOUSLY SELECTED point and the next
    bucket's centroid.

    The choice chain is sequential per series (each pick depends on
    the previous one), so like the EWMA/Holt recursions it runs
    through the shared :func:`stats.segmented_scan` scaffold —
    per-series numpy, no per-row Python, no driver state. Series
    with ≤ ``n_out`` points are kept whole. Output: the input rows
    with a ``selected`` boolean (filter on it for the downsampled
    view — keeping the full relation lets callers verify
    subset/endpoint invariants in-plan).
    """
    if n_out < 3:
        raise ValueError(f"n_out must be >= 3, got {n_out}")
    from yahoo_anomaly_detection_spark.operators.stats import segmented_scan

    def _lttb_one(ts: np.ndarray, vs: np.ndarray) -> np.ndarray:
        n = len(ts)
        sel = np.zeros(n, bool)
        if n <= n_out:
            sel[:] = True
            return sel
        sel[0] = sel[n - 1] = True
        # equal-count index buckets over the interior [1, n-1)
        edges = np.linspace(1, n - 1, n_out - 1).astype(np.int64)
        prev = 0
        for b in range(n_out - 2):
            lo, hi = edges[b], edges[b + 1]
            if hi <= lo:  # integer edges can collide on short interiors
                continue
            nlo, nhi = (hi, n) if b == n_out - 3 else (hi, edges[b + 2])
            if nhi <= nlo:  # empty next bucket: aim at the last point
                nlo, nhi = n - 1, n
            # next bucket's centroid (last "bucket" is the final point)
            cx = ts[nlo:nhi].mean()
            cy = vs[nlo:nhi].mean()
            ax, ay = ts[prev], vs[prev]
            area = np.abs(
                (ax - cx) * (vs[lo:hi] - ay) - (ax - ts[lo:hi]) * (cy - ay)
            )
            pick = lo + int(np.argmax(area))
            sel[pick] = True
            prev = pick
        return sel

    def kernel(pdf, starts):
        bounds = np.append(starts, len(pdf))
        tcol = pdf[ts_col]
        if pd.api.types.is_datetime64_any_dtype(tcol):
            ts_all = tcol.astype("int64").to_numpy().astype(np.float64)
        else:
            ts_all = tcol.to_numpy(np.float64)
        vs_all = pdf[value_col].to_numpy(np.float64)
        sel = np.zeros(len(pdf), bool)
        for i in range(len(starts)):
            lo, hi = bounds[i], bounds[i + 1]
            sel[lo:hi] = _lttb_one(ts_all[lo:hi], vs_all[lo:hi])
        return {"selected": sel}

    return segmented_scan(
        df, keys, ts_col,
        [("selected", T.BooleanType(), "bool")], kernel,
    )


HIST_BOUNDARIES = (1.0, 5.0, 10.0, 25.0, 50.0, 100.0, 200.0, 400.0)


def hist_quantile(events: DataFrame, q: float = 0.95,
                  boundaries: tuple[float, ...] = HIST_BOUNDARIES,
                  bucket_seconds: int = 86400, key: str = "event_type",
                  ts_col: str = "ts",
                  value_col: str = "value") -> DataFrame:
    """Prometheus-style ``histogram_quantile``: estimate a quantile
    per (series, bucket) from fixed cumulative ``le`` buckets by
    linear interpolation inside the bucket the rank lands in.

    Conventions match Prometheus: the first bucket's lower edge is 0
    (non-negative observations assumed), and a rank falling in the
    +Inf overflow bucket returns the highest finite boundary. The
    rank is ``q·n`` against cumulative counts ``cum_i = #{x ≤ bᵢ}``;
    the estimate for the smallest i with ``cum_i ≥ rank`` is
    ``lo + (bᵢ − lo)·(rank − cum_{i−1})/(cum_i − cum_{i−1})``.

    Scale shape: the cumulative counts are N conditional sums inside
    ONE map-side-combined groupBy — each task emits one row of N+1
    longs per live (key, bucket) group, so the exchange carries
    histograms, never samples; the interpolation is a chained CASE on
    the aggregated row (pure JVM, whole-stage codegen). This is the
    sketch-rollup idiom real monitoring stores use for quantiles over
    data too big to sort.
    """
    if not 0.0 < q < 1.0:
        raise ValueError(f"q must be in (0, 1), got {q}")
    bs = [float(b) for b in boundaries]
    if len(bs) < 1 or any(b2 <= b1 for b1, b2 in zip(bs, bs[1:])):
        raise ValueError(
            f"boundaries must be strictly increasing, got {boundaries}")
    v = F.col(value_col).cast("double")
    pts = events.where(v.isNotNull())
    cums = [
        F.sum((v <= F.lit(b)).cast("long")).alias(f"_le{i}")
        for i, b in enumerate(bs)
    ]
    agg = pts.groupBy(
        F.col(key), _bucket_expr(ts_col, int(bucket_seconds)).alias(
            "bucket_start")
    ).agg(F.count(v).alias("n"), *cums)
    rank = F.lit(float(q)) * F.col("n").cast("double")
    chain = None
    for i, b in enumerate(bs):
        ci = F.col(f"_le{i}").cast("double")
        cprev = F.lit(0.0) if i == 0 else F.col(f"_le{i - 1}").cast("double")
        lo = F.lit(0.0) if i == 0 else F.lit(bs[i - 1])
        est = lo + (F.lit(b) - lo) * ((rank - cprev) / (ci - cprev))
        chain = (F.when(ci >= rank, est) if chain is None
                 else chain.when(ci >= rank, est))
    q_est = chain.otherwise(F.lit(bs[-1]))
    return agg.select(
        F.col(key), "bucket_start", "n",
        portable_round(q_est, _R).alias("q_est"),
    )


def ddsketch_quantiles(events: DataFrame,
                       qs: tuple[float, ...] = (0.5, 0.95, 0.99),
                       rel_error: float = 0.01,
                       bucket_seconds: int = 86400, key: str = "conv_id",
                       ts_col: str = "ts",
                       value_col: str = "value") -> DataFrame:
    """DDSketch quantiles per (series, bucket) — Datadog's
    relative-error quantile sketch (Masson/Rim/Lee, VLDB'19): every
    positive value maps to log-spaced bucket
    ``i = ceil(ln(v)/ln(γ))`` with ``γ = (1+α)/(1−α)``, and the
    quantile estimate ``2·γ^i/(γ+1)`` (the bucket midpoint in log
    space) is within relative error α of the true rank-``⌈q·n⌉``
    sample — a GUARANTEE, unlike ``approx_percentile``'s rank error.

    Why it earns a slot next to ``hist_quantile`` (fixed boundaries:
    accuracy collapses when the data outgrows the grid) and
    ``_percentile(rel_error=)`` (rank-error KLL): DDSketch's bucket
    counts are exact longs keyed by an integer — they merge across
    partitions, days and re-rollups by plain addition, and the
    relative-error bound survives every merge. This makes the sketch
    the right shape for tier cascades: a 1m→1h→1d quantile rollup is
    ``sum(cnt) groupBy (key, bucket', idx)``, no re-touching samples.

    Scale shape: the corpus crosses ONE map-side-combined
    ``groupBy (key, bucket, idx)`` exchange — each map task emits at
    most one row per live log-bucket (~a few hundred per group at
    α=1%), so the exchange carries sketches, never samples. The
    cumsum/total windows and the quantile probe run on the
    bucket-count relation (sketch-sized); the final groupBy is
    (groups × qs)-sized. No window or sort ever touches raw samples.

    Determinism across engines: the bucket index subtracts 1e-9
    before ``ceil`` (the house ``portable_round`` epsilon idiom), so
    a last-ulp difference between the JVM's and DuckDB's ``ln`` at a
    bucket boundary cannot flip the integer; ``γ``/``ln γ`` are
    embedded as identical ``repr`` literals on both sides.

    Semantics: only ``v > 0`` enters the sketch (standard DDSketch —
    a production store keeps a separate zero/negative-store; latency
    and counter metrics are positive). Output one row per
    (key, bucket_start, q): ``n`` (sketched sample count) and the
    estimate ``est``.
    """
    if not 0.0 < rel_error < 1.0:
        raise ValueError(f"rel_error must be in (0, 1), got {rel_error}")
    if not qs or any(not 0.0 < q < 1.0 for q in qs):
        raise ValueError(f"qs must all be in (0, 1), got {qs}")
    gamma = (1.0 + float(rel_error)) / (1.0 - float(rel_error))
    lng = math.log(gamma)
    v = F.col(value_col).cast("double")
    pts = events.where(v.isNotNull() & (v > 0))
    idx = F.ceil(F.log(v) / F.lit(lng) - F.lit(1e-9))
    buckets = pts.groupBy(
        F.col(key),
        _bucket_expr(ts_col, int(bucket_seconds)).alias("bucket_start"),
        idx.alias("idx"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    wg = W.partitionBy(key, "bucket_start")
    wcum = wg.orderBy("idx").rowsBetween(W.unboundedPreceding, 0)
    cum = buckets.select(
        key, "bucket_start", "idx",
        F.sum("cnt").over(wcum).alias("cum"),
        F.sum("cnt").over(wg).alias("n"),
    )
    qcol = F.explode(
        F.array(*[F.lit(float(q)) for q in qs])).alias("q")
    cand = cum.select(key, "bucket_start", "idx", "cum", "n", qcol).where(
        F.col("cum") >= F.ceil(F.col("q") * F.col("n").cast("double")))
    est = (F.lit(2.0) * F.pow(F.lit(gamma), F.col("idx"))
           / F.lit(gamma + 1.0))
    return (
        cand.groupBy(key, "bucket_start", "q")
        .agg(F.min("idx").alias("idx"), F.max("n").alias("n"))
        .select(key, "bucket_start", "q", "n",
                portable_round(est, _R).alias("est"))
    )


def _ddsketch_sql(qs: tuple[float, ...] = (0.5, 0.95, 0.99),
                  rel_error: float = 0.01) -> str:
    gamma = (1.0 + float(rel_error)) / (1.0 - float(rel_error))
    lng = math.log(gamma)
    vals = ", ".join(f"({q!r})" for q in qs)
    return f"""
WITH pts AS (
    SELECT CAST(user_id AS VARCHAR) AS conv_id, ts,
           CAST(value AS DOUBLE) AS v
    FROM events WHERE value IS NOT NULL AND value > 0
),
b AS (
    SELECT conv_id, date_trunc('day', ts) AS bucket_start,
           ceil(ln(v) / {lng!r} - 1e-9) AS idx, count(*) AS cnt
    FROM pts GROUP BY 1, 2, 3
),
c AS (
    SELECT conv_id, bucket_start, idx,
           CAST(sum(cnt) OVER (PARTITION BY conv_id, bucket_start
                               ORDER BY idx) AS BIGINT) AS cum,
           CAST(sum(cnt) OVER (PARTITION BY conv_id, bucket_start)
                AS BIGINT) AS n
    FROM b
),
cand AS (
    SELECT c.conv_id, c.bucket_start, q.q, c.n, c.idx
    FROM c CROSS JOIN (VALUES {vals}) AS q(q)
    WHERE c.cum >= ceil(q.q * c.n)
)
SELECT conv_id, bucket_start, q, max(n) AS n,
       round(2.0 * pow({gamma!r}, min(idx)) / {gamma + 1.0!r}, 4) AS est
FROM cand GROUP BY 1, 2, 3
"""


def _run_segments(df: DataFrame, flag_col: str, keys: tuple[str, ...],
                  order_col: str,
                  max_gap_seconds: int | None) -> DataFrame:
    """Add ``_seg`` — a per-key run id that increments at every start
    of a flagged run (shared by :func:`alert_states` and
    ``alerting.flag_intervals``): lag → new-run indicator, running
    sum → run id, both over one (keys)-partitioned window.

    ``max_gap_seconds=None`` counts consecutive SAMPLES; a value
    makes runs gap-aware — a hole in the series longer than the gap
    splits the run, so an outage never bridges two short episodes.
    """
    flag = F.col(flag_col).cast("int")
    w1 = W.partitionBy(*keys).orderBy(order_col)
    prev_flag = F.lag(flag).over(w1)
    if max_gap_seconds is None:
        adjacent = prev_flag.isNotNull()
    else:
        us = F.unix_micros(F.col(order_col).cast("timestamp"))
        adjacent = prev_flag.isNotNull() & (
            us - F.lag(us).over(w1)
            <= F.lit(int(max_gap_seconds) * 1_000_000)
        )
    new_run = ((flag == 1) & ~(adjacent & (prev_flag == 1))).cast("int")
    wcum = w1.rowsBetween(W.unboundedPreceding, W.currentRow)
    return df.withColumn("_seg", F.sum(new_run).over(wcum))


def alert_states(df: DataFrame, value_col: str, threshold: float,
                 for_k: int = 3, keys: tuple[str, ...] = ("conv_id",),
                 order_col: str = "bucket_start",
                 max_gap_seconds: int | None = None) -> DataFrame:
    """Flap-free FOR-duration alerting (the Prometheus ``for:``
    clause): a threshold breach must HOLD for ``for_k`` consecutive
    samples before the alert fires — states per row are ``ok`` (no
    breach), ``pending`` (breach run shorter than ``for_k`` so far),
    ``firing`` (run reached ``for_k``). One transient spike never
    pages anyone; a sustained breach pages exactly once it has held.

    ``max_gap_seconds=None`` counts consecutive SAMPLES of the series
    (alerts evaluated per scrape); setting it to the sampling period
    makes runs gap-aware — a hole in the series resets the run, so an
    outage doesn't bridge two short breaches into a firing alert.

    Run-length is three pipelined window phases over ONE hash
    exchange on the series key (the sessionize idiom,
    ``operators/sessions.py``): lag → new-run indicator, running sum
    → run id, count-of-breaches within (key, run) → position; the
    (key, run) window's clustering is satisfied by hash(key), so no
    second exchange. Adds ``breach`` (0/1), ``run_pos`` (1-based
    within the breach run, 0 on ok rows), ``state``.
    """
    if for_k < 1:
        raise ValueError(f"for_k must be >= 1, got {for_k}")
    v = F.col(value_col).cast("double")
    # NULL samples are non-breaches (the oracle's CASE ELSE 0), not
    # three-valued NULLs — otherwise a NULL row would skip both state
    # branches and surface as a phantom 'pending'
    breach = F.coalesce((v > F.lit(float(threshold))).cast("int"),
                        F.lit(0))
    base = _run_segments(df.withColumn("_breach", breach), "_breach",
                         keys, order_col, max_gap_seconds)
    w2 = (
        W.partitionBy(*keys, "_seg").orderBy(order_col)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    run_pos = F.sum("_breach").over(w2)
    return (
        base.withColumn(
            "run_pos",
            F.when(F.col("_breach") == 1, run_pos).otherwise(F.lit(0))
            .cast("long"),
        )
        .withColumn(
            "state",
            F.when(F.col("_breach") == 0, "ok")
            .when(F.col("run_pos") >= for_k, "firing")
            .otherwise("pending"),
        )
        .withColumnRenamed("_breach", "breach")
        .drop("_seg")
    )


def metric_corr(events: DataFrame, metrics: tuple[str, ...],
                metric_col: str = "event_type", ts_col: str = "ts",
                value_col: str = "value", grid_seconds: int = 3600,
                corr_seconds: int = 86400) -> DataFrame:
    """Cross-metric co-movement: align every metric on a common time
    grid (per-grid-bucket mean per metric, one wide row per bucket),
    then Pearson r per coarse bucket for every metric PAIR over the
    grid points where both metrics are present — the "which metrics
    move together" panel of an observability dashboard, and the
    correlation-matrix primitive of feature-drift monitors.

    r comes from centered co-moments (``functions.comoments``) over
    each pair's both-present grid points. Cost: the corpus crosses
    exactly ONE heavy map-side-combined exchange (raw events →
    #grid-buckets wide rows); the centering window runs on the
    already-tiny grid relation and shares its hash clustering with
    the final coarse-bucket groupBy.
    Degenerate pairs (fewer than two shared points, or zero variance
    on either side) yield r = NULL. Output: one row per
    (bucket_start, metric_a, metric_b) with ``n_pts`` and ``r``.
    """
    ms = list(metrics)
    if len(ms) < 2:
        raise ValueError(f"need at least 2 metrics, got {metrics}")
    v = F.col(value_col).cast("double")
    grid = (
        events.where(v.isNotNull() & F.col(metric_col).isin(ms))
        .groupBy(_bucket_expr(ts_col, int(grid_seconds)).alias("_grid"))
        .agg(*[
            F.avg(F.when(F.col(metric_col) == m, v)).alias(f"_m{i}")
            for i, m in enumerate(ms)
        ])
    )
    return _pair_corr(
        grid.withColumn("_day", _bucket_expr("_grid", int(corr_seconds))),
        "_day", "_m", "_m", ms,
    ).select(F.col("_day").alias("bucket_start"), "_p.*")


def _pair_corr(df: DataFrame, by: str, xp: str, yp: str,
               ms: list[str]) -> DataFrame:
    """Pearson r per ``by`` group for every metric pair i < j of
    columns ``<xp>i`` / ``<yp>j``, over the rows where both exist:
    one ``_p`` struct row (metric_a, metric_b, n_pts, r) per pair."""
    pairs = [(i, j) for i in range(len(ms)) for j in range(i + 1, len(ms))]
    fits = []
    for i, j in pairs:
        x, y = F.col(f"{xp}{i}"), F.col(f"{yp}{j}")
        fits.append(Fit({"x": x, "y": y}, x.isNotNull() & y.isNotNull(),
                        f"_{i}_{j}"))
    rows = [F.struct(
        F.lit(ms[i]).alias("metric_a"),
        F.lit(ms[j]).alias("metric_b"),
        F.col(f"n_{i}_{j}").alias("n_pts"),
        portable_round(pearson(f"_{i}_{j}"), _R).alias("r"),
    ) for i, j in pairs]
    return comoments(df, [by], PEARSON, *fits).select(
        by, F.explode(F.array(*rows)).alias("_p"))


def leadlag_corr(events: DataFrame, metrics: tuple[str, ...],
                 metric_col: str = "event_type", ts_col: str = "ts",
                 value_col: str = "value", grid_seconds: int = 3600,
                 max_lag: int = 3) -> DataFrame:
    """Lead-lag detection between metric pairs: Pearson r of
    ``(x_t, y_{t+L})`` for every grid lag L ∈ [−max_lag, max_lag] —
    the "error rate leads latency by 2 hours" read-out incident
    retrospectives and causal-graph builders start from, which
    :func:`metric_corr` (lag 0 only) cannot see. Per ordered pair
    the highest-|r| lag is marked ``best`` (tie → smallest lag);
    negative lag means metric_a LAGS metric_b.

    Scale shape: the raw corpus crosses exactly ONE map-side-combined
    exchange (the shared grid aggregate — #grid-buckets wide rows);
    everything after runs on that reduced relation: a 2·max_lag+1
    lag explode, a self-equi-join on the SHIFTED grid timestamp with
    the plain grid broadcast (exact timestamp arithmetic — gaps in
    the grid align correctly, where a ``lead()`` window would slide
    across holes), one grid-sized groupBy(lag) of the pair sums, and
    a rank window over the (pairs × lags)-row result. NULL r (a lag
    with no overlap / zero variance) sorts last on BOTH engines —
    explicit ``NULLS LAST`` because DuckDB's DESC default is
    nulls-first, Spark's is nulls-last.

    Output: (metric_a, metric_b, lag, n_pts, r, best).
    """
    ms = list(metrics)
    if len(ms) < 2:
        raise ValueError(f"need at least 2 metrics, got {metrics}")
    if max_lag < 1:
        raise ValueError(f"max_lag must be >= 1, got {max_lag}")
    step = int(grid_seconds)
    v = F.col(value_col).cast("double")
    grid = (
        events.where(v.isNotNull() & F.col(metric_col).isin(ms))
        .groupBy(_bucket_expr(ts_col, step).alias("_grid"))
        .agg(*[
            F.avg(F.when(F.col(metric_col) == m, v)).alias(f"_m{i}")
            for i, m in enumerate(ms)
        ])
    )
    grid = caching.materialize(grid)
    lags = list(range(-max_lag, max_lag + 1))
    a = grid.select(
        F.explode(F.array(*[F.lit(l) for l in lags])).alias("lag"),
        F.col("_grid"),
        *[F.col(f"_m{i}").alias(f"_x{i}") for i in range(len(ms))],
    ).withColumn(
        "_tgt",
        F.timestamp_seconds(
            F.unix_seconds(F.col("_grid")) + F.col("lag") * F.lit(step)),
    )
    b = grid.select(
        F.col("_grid").alias("_tgt"),
        *[F.col(f"_m{i}").alias(f"_y{i}") for i in range(len(ms))],
    )
    joined = a.join(F.broadcast(b), "_tgt")

    flat = _pair_corr(joined, "lag", "_x", "_y", ms).select(
        "_p.metric_a", "_p.metric_b", "lag", "_p.n_pts", "_p.r")
    wbest = W.partitionBy("metric_a", "metric_b").orderBy(
        F.abs(F.col("r")).desc_nulls_last(), F.col("lag").asc())
    return flat.select(
        "metric_a", "metric_b", F.col("lag").cast("int").alias("lag"),
        "n_pts", "r",
        (F.row_number().over(wbest) == 1).cast("int").alias("best"),
    )


def seasonal_naive_eval(df: DataFrame, value_col: str,
                        ts_col: str = "bucket_start",
                        phase: str = "minute_of_hour",
                        keys: tuple[str, ...] = ("conv_id",)) -> DataFrame:
    """Seasonal-naive forecast evaluation per series: forecast each
    sample with the PREVIOUS observation of its own seasonal phase
    (same minute-of-hour / hour-of-day), then roll up MAE and SMAPE —
    the standard baseline every forecasting pipeline must beat before
    any model earns its keep (a model that loses to seasonal-naive is
    noise), and the cheapest continuous forecast-quality monitor.

    ``lag(value)`` over (key, phase) ordered by time gives the
    forecast; the error rollup groups by key. ONE exchange on
    (key, phase) feeds the lag window, and the downstream key groupBy
    is map-side-combined — per-task window input is one phase of one
    series, bounded. SMAPE uses the standard
    ``2|y−ŷ| / (|y|+|ŷ|)`` with both-zero points excluded (NULL via
    nullif — avg skips them in both engines).

    Output: (keys…, n_eval, mae, smape) over samples that HAVE a
    same-phase predecessor.
    """
    key_cols = list(keys)
    v = F.col(value_col).cast("double")
    wp = W.partitionBy(*key_cols, "phase").orderBy(ts_col)
    base = (
        df.withColumn("phase", _phase_expr(phase, ts_col))
        .withColumn("fc", F.lag(v).over(wp))
    )
    err = F.abs(v - F.col("fc"))
    denom = F.abs(v) + F.abs(F.col("fc"))
    smape_pt = F.lit(2.0) * err / F.nullif(denom, F.lit(0.0))
    return (
        base.where(F.col("fc").isNotNull())
        .groupBy(*key_cols)
        .agg(
            F.count(F.lit(1)).alias("n_eval"),
            portable_round(F.avg(err), _R).alias("mae"),
            portable_round(F.avg(smape_pt), _R).alias("smape"),
        )
    )


def psi_drift(events: DataFrame,
              boundaries: tuple[float, ...] = HIST_BOUNDARIES,
              bucket_seconds: int = 86400, key: str = "event_type",
              ts_col: str = "ts", value_col: str = "value",
              smoothing: float = 0.5) -> DataFrame:
    """Population Stability Index between each (series, day) value
    distribution and the series' PREVIOUS observed day — the standard
    data-quality drift monitor (PSI < 0.1 stable, 0.1–0.25 moderate
    shift, > 0.25 investigate). Catches distribution change that mean
    / percentile rollups miss (e.g. variance doubling around a stable
    mean).

    Values bin by the same fixed boundaries as :func:`hist_quantile`
    (bin = #{boundaries < value} via a chained sum of comparisons —
    pure JVM, engine-portable); the WHOLE per-(key, bucket) histogram
    is B+1 conditional sums inside ONE map-side-combined groupBy (the
    hist_quantile idiom — the exchange carries one row of B+1 longs
    per live group, never samples, and zero-count bins exist by
    construction, no densify join). Shares get additive ``smoothing``
    (Laplace) so empty bins never produce log(0);
    ``PSI = Σ_bins (p_t − p_prev)·ln(p_t / p_prev)`` folds over the
    zipped share ARRAYS (``zip_with`` + ``aggregate`` — JVM
    higher-order functions) with p_prev the ``lag`` of the share
    array over the series.

    Scale shape: the raw corpus is scanned ONCE (plan-audited) and
    everything downstream of the first aggregate operates on the
    tiny histogram relation (keys × buckets rows).

    Output: (key, bucket_start, n, psi) for buckets that have a
    predecessor.
    """
    bs = [float(b) for b in boundaries]
    if len(bs) < 1 or any(b2 <= b1 for b1, b2 in zip(bs, bs[1:])):
        raise ValueError(
            f"boundaries must be strictly increasing, got {boundaries}")
    if smoothing <= 0:
        raise ValueError(f"smoothing must be > 0, got {smoothing}")
    n_bins = len(bs) + 1
    v = F.col(value_col).cast("double")
    pts = events.where(v.isNotNull())
    bin_col = sum([(v > F.lit(b)).cast("int") for b in bs], F.lit(0))
    hist = pts.withColumn("_bin", bin_col).groupBy(
        F.col(key),
        _bucket_expr(ts_col, int(bucket_seconds)).alias("bucket_start"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        *[F.sum((F.col("_bin") == i).cast("long")).alias(f"_b{i}")
          for i in range(n_bins)],
    )
    s = F.lit(float(smoothing))
    denom = F.col("n").cast("double") + s * F.lit(float(n_bins))
    shares = F.array(*[
        (F.col(f"_b{i}").cast("double") + s) / denom
        for i in range(n_bins)
    ])
    w_key = W.partitionBy(key).orderBy("bucket_start")
    cur = hist.withColumn("_p", shares).withColumn(
        "_p_prev", F.lag("_p").over(w_key))
    psi = F.aggregate(
        F.zip_with(
            "_p", "_p_prev",
            lambda p, q: (p - q) * F.log(p / q)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        cur.where(F.col("_p_prev").isNotNull())
        .select(key, "bucket_start", "n",
                portable_round(psi, _R).alias("psi"))
    )


def ks_drift(events: DataFrame, bucket_seconds: int = 86400,
             key: str = "event_type", ts_col: str = "ts",
             value_col: str = "value") -> DataFrame:
    """EXACT two-sample Kolmogorov–Smirnov statistic between each
    (series, day) value distribution and the series' previous
    observed day — the binless sibling of :func:`psi_drift`:
    ``D = sup_x |F_day(x) − F_prev(x)|`` evaluated at every sample
    point, so it is sensitive to ANY distribution change (PSI only
    sees mass moving across its fixed bin boundaries; a shift
    entirely inside one bin is invisible to it and fully visible
    here). Same pairing convention as PSI: previous OBSERVED day per
    series, first day of each series excluded.

    Mechanics: the tiny (key, day → previous day) relation fans each
    sample to the ≤2 comparisons it feeds — as the CURRENT side of
    its own day's pair and the REFERENCE side of the next observed
    day's pair — via ONE broadcast join (never a per-pair re-scan).
    Both empirical CDFs are cumulative-share windows ordered by value
    with a RANGE frame (ties are frame peers, so F(x) counts ≤ x on
    both engines — the exact ECDF); D is the max over rows of the
    absolute difference.

    Scale shape: the pair relation is (series × days)-sized and
    broadcasts; the fanned sample relation (≤ 2×) crosses ONE hash
    exchange on (key, pair day) that serves both ECDF windows AND the
    final max rollup. Per-task input is bounded by a single (series,
    day ∪ prev day) sample set — the same boundedness contract as the
    percentile rollups.

    Output: (key, bucket_start, prev_bucket, n_cur, n_ref, ks).
    """
    bucket = _bucket_expr(ts_col, int(bucket_seconds))
    v = F.col(value_col).cast("double")
    pts = events.where(v.isNotNull()).select(
        key, bucket.alias("_b"), v.alias("_v"))
    days = pts.select(key, "_b").distinct()
    w_key = W.partitionBy(key).orderBy("_b")
    pairs = (
        days.withColumn("_prev", F.lag("_b").over(w_key))
        .where(F.col("_prev").isNotNull())
    )
    # explode (not union) so the day-pair subtree is computed once
    roles = pairs.select(
        key, F.col("_b").alias("_pair_b"), "_prev",
        F.explode(F.array(
            F.struct(F.col("_b").alias("_sample_b"),
                     F.lit(1).alias("_is_cur")),
            F.struct(F.col("_prev").alias("_sample_b"),
                     F.lit(0).alias("_is_cur")),
        )).alias("_r"),
    ).select(key, "_pair_b", "_prev", "_r._sample_b", "_r._is_cur")
    tagged = pts.alias("l").join(
        F.broadcast(roles.alias("r")),
        on=(F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col("l._b") == F.col("r._sample_b")),
    ).select(F.col(f"l.{key}").alias(key), "r._pair_b", "r._prev",
             "r._is_cur", "l._v")
    w_all = W.partitionBy(key, "_pair_b")
    w_cum = w_all.orderBy("_v").rangeBetween(W.unboundedPreceding, 0)
    cur = F.col("_is_cur")
    ref = F.lit(1) - cur
    n_cur = F.sum(cur).over(w_all)
    n_ref = F.sum(ref).over(w_all)
    d = F.abs(
        F.sum(cur).over(w_cum).cast("double") / n_cur
        - F.sum(ref).over(w_cum).cast("double") / n_ref
    )
    return (
        tagged.select(key, "_pair_b", "_prev",
                      n_cur.alias("_nc"), n_ref.alias("_nr"),
                      d.alias("_d"))
        .groupBy(key, F.col("_pair_b").alias("bucket_start"),
                 F.col("_prev").alias("prev_bucket"))
        .agg(F.max("_nc").alias("n_cur"), F.max("_nr").alias("n_ref"),
             portable_round(F.max("_d"), _R).alias("ks"))
    )


def _ks_sql() -> str:
    return """
WITH pts AS (
    SELECT event_type, date_trunc('day', ts) AS b, value AS v
    FROM events WHERE value IS NOT NULL
),
days AS (SELECT DISTINCT event_type, b FROM pts),
pairs AS (
    SELECT event_type, b, lag(b) OVER (PARTITION BY event_type
                                       ORDER BY b) AS prev
    FROM days
),
roles AS (
    SELECT event_type, b AS sample_b, b AS pair_b, prev, 1 AS is_cur
    FROM pairs WHERE prev IS NOT NULL
    UNION ALL
    SELECT event_type, prev, b, prev, 0 FROM pairs
    WHERE prev IS NOT NULL
),
tagged AS (
    SELECT p.event_type, r.pair_b, r.prev, r.is_cur, p.v
    FROM pts p JOIN roles r
      ON p.event_type = r.event_type AND p.b = r.sample_b
),
cdf AS (
    SELECT event_type, pair_b, prev,
           sum(is_cur) OVER (PARTITION BY event_type, pair_b) AS n_cur,
           sum(1 - is_cur) OVER (PARTITION BY event_type, pair_b)
               AS n_ref,
           abs(CAST(sum(is_cur) OVER w AS DOUBLE)
                 / sum(is_cur) OVER (PARTITION BY event_type, pair_b)
               - CAST(sum(1 - is_cur) OVER w AS DOUBLE)
                 / sum(1 - is_cur)
                   OVER (PARTITION BY event_type, pair_b)) AS d
    FROM tagged
    WINDOW w AS (PARTITION BY event_type, pair_b ORDER BY v
                 RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_type, pair_b AS bucket_start, prev AS prev_bucket,
       CAST(max(n_cur) AS BIGINT) AS n_cur,
       CAST(max(n_ref) AS BIGINT) AS n_ref,
       round(max(d), 4) AS ks
FROM cdf GROUP BY 1, 2, 3
"""


def linear_trend(df: DataFrame, bucket_seconds: int = 86400,
                 key: str = "conv_id", ts_col: str = "ts",
                 value_col: str = "value") -> DataFrame:
    """Per-(series, bucket) OLS linear trend: slope (value per HOUR),
    intercept (fitted value at the bucket start) and r² of value
    against time-within-bucket — the trend-detection rollup a
    capacity planner runs over every metric ("which conversations'
    latency is RISING, and how fast?"), and the local-trend primitive
    forecasting layers build on.

    Pure decomposable math: ``regr_slope``/``regr_intercept``/
    ``regr_r2`` are single-pass mergeable moment aggregates on BOTH
    engines (Spark RegrSlope ≡ DuckDB/ANSI regr_slope), so the plan
    is ONE map-side-combined groupBy — partials merge on the
    reducers, nothing ever sorts and no group concentrates raw rows
    on one task. Degenerate groups agree engine-for-engine (verified
    on edge fixtures): zero time-variance or a single sample → NULL
    slope/intercept/r²; constant value over varying time → slope 0,
    r² 1. The regressor is hours since the bucket start, keeping
    slope magnitudes in a range where 4-decimal portable rounding is
    meaningful (an epoch-seconds regressor would put real signal
    below the rounding grid).

    Output: (key, bucket_start, n, slope_per_h, intercept, r2).
    """
    ts = F.col(ts_col).cast("timestamp")
    bucket = _bucket_expr(ts_col, bucket_seconds)
    pts = df.where(F.col(value_col).isNotNull()).select(
        key,
        bucket.alias("bucket_start"),
        ((F.unix_micros(ts)
          - F.unix_micros(bucket)) / F.lit(3.6e9)).alias("_x"),
        F.col(value_col).cast("double").alias("_y"),
    )
    x, y = F.col("_x"), F.col("_y")
    return pts.groupBy(key, "bucket_start").agg(
        F.count(F.lit(1)).alias("n"),
        portable_round(F.regr_slope(y, x), _R).alias("slope_per_h"),
        portable_round(F.regr_intercept(y, x), _R).alias("intercept"),
        portable_round(F.regr_r2(y, x), _R).alias("r2"),
    )


def acf(tier_df: DataFrame, value_col: str, lags: tuple[int, ...] = (1, 2, 3),
        key: str = "conv_id", bucket_col: str = "bucket_start",
        group_seconds: int = 86400) -> DataFrame:
    """Per-(series, group-bucket) sample autocorrelation at small lags
    over an already-rolled-up tier series — the seasonality/persistence
    diagnostic a forecasting layer runs before picking a model (high
    acf(1) → smoothing helps; acf at the season lag → use Holt-Winters
    over ``snaive``). Lags are in OBSERVATIONS over the ordered tier
    buckets, not wall-clock: on a gappy series compose ``gapfill``
    upstream when strict time alignment is wanted (the engine's
    operators are designed to chain — same contract as ``lttb``/``m4``
    consuming tier output).

    acf(k) = Pearson r between x_t and x_{t−k} within the group — the
    same estimator ``pandas.Series.autocorr(lag=k)`` uses. Degenerate
    groups (fewer than 2 pairs, zero variance in either margin) yield
    NULL on both engines (Spark's NaN is normalized to NULL to match
    DuckDB's ``corr``).

    Shape: ONE hash exchange on (key, group) serves the lag window
    AND the groupBy (grouping keys = window partition keys, so the
    aggregation reuses the window's clustering); all K lags ride one
    window pass, and the unpivot to (lag, n_pairs, acf) rows runs on
    the AGGREGATED relation — K rows per group, never K× the input.
    Per-task input is one group of one series (a day of 1m buckets ≤
    1440 rows), bounded regardless of series count.
    """
    if not lags or any(int(k) < 1 for k in lags):
        raise ValueError(f"lags must be positive ints, got {lags!r}")
    lags = tuple(int(k) for k in lags)
    grp = _bucket_expr(bucket_col, group_seconds)
    w = W.partitionBy(key, "_grp").orderBy(bucket_col)
    pts = tier_df.select(
        key, F.col(bucket_col),
        grp.alias("_grp"),
        F.col(value_col).cast("double").alias("_v"),
    ).where(F.col("_v").isNotNull())
    lagged = pts.select(
        key, "_grp", "_v",
        *[F.lag("_v", k).over(w).alias(f"_l{k}") for k in lags],
    )
    # Pearson r from centered co-moments instead of F.corr: ANSI
    # mode turns corr's zero-variance division into an error, and the
    # guard gives DuckDB's NULL on degenerate groups
    agg = comoments(lagged, [key, "_grp"], PEARSON, *[
        Fit({"x": F.col("_v"), "y": F.col(f"_l{k}")},
            F.col(f"_l{k}").isNotNull(), f"{k}") for k in lags])
    for k in lags:
        agg = agg.withColumn(f"_a{k}", pearson(f"{k}"))
    stack = ", ".join(
        f"{k}, n{k}, _a{k}" for k in lags
    )
    return agg.select(
        key, F.col("_grp").alias(bucket_col),
        F.expr(f"stack({len(lags)}, {stack}) AS (lag, n_pairs, _acf)"),
    ).select(
        key, bucket_col, F.col("lag").cast("int").alias("lag"),
        "n_pairs", portable_round(F.col("_acf"), _R).alias("acf"),
    )


def pacf(tier_df: DataFrame, value_col: str,
         key: str = "conv_id", bucket_col: str = "bucket_start",
         group_seconds: int = 86400) -> DataFrame:
    """Per-(series, group-bucket) PARTIAL autocorrelation at lags
    1..3 — what ``acf`` leaves open: acf(2) is inflated by lag-1
    persistence alone (an AR(1) series shows acf(k) = r^k at every
    lag); pacf(k) is the lag-k correlation with lags 1..k−1 regressed
    out, so the AR ORDER reads directly off where pacf cuts to ~0
    (the Box-Jenkins identification step; picks the p for ``ar2_fit``
    from the data). Yule-Walker estimator via the Durbin-Levinson
    closed forms — the same recursion statsmodels' ``pacf_yw``
    solves, unrolled to K=3:

        φ11 = r1;  φ22 = (r2 − r1²)/(1 − r1²);  φ21 = r1(1 − φ22)
        φ33 = (r3 − φ21 r2 − φ22 r1)/(1 − φ21 r1 − φ22 r2)

    with r_k the biased autocovariance ratio c_k/c_0,
    c_k = Σ(x_t − x̄)(x_{t+k} − x̄)/n over the ordered group. NULL
    where undefined: zero variance, n ≤ k, or a |denominator| below
    1e-12 (both engines branch identically).

    Shape: ONE hash exchange on (key, group) — the ordered lag
    window, the unbounded-frame group mean/count, and the final
    groupBy all share it (two pipelined Window phases + the
    map-side-combined aggregate, same single-exchange family as
    ``acf``); the Durbin-Levinson arithmetic runs as column
    expressions on the one-row-per-group aggregate. Per-task input is
    one group of one series, bounded by the tier (≤1440 rows/day).
    """
    grp = _bucket_expr(bucket_col, group_seconds)
    w_ord = W.partitionBy(key, "_grp").orderBy(bucket_col)
    w_all = W.partitionBy(key, "_grp")
    pts = tier_df.select(
        key, F.col(bucket_col),
        grp.alias("_grp"),
        F.col(value_col).cast("double").alias("_v"),
    ).where(F.col("_v").isNotNull())
    lagged = pts.select(
        key, "_grp", "_v",
        *[F.lag("_v", k).over(w_ord).alias(f"_l{k}") for k in (1, 2, 3)],
        F.avg("_v").over(w_all).alias("_m"),
    )
    m = F.col("_m")
    aggs = [
        F.count(F.lit(1)).alias("_n"),
        F.sum((F.col("_v") - m) * (F.col("_v") - m)).alias("_c0"),
    ]
    for k in (1, 2, 3):
        aggs.append(
            F.sum(F.when(F.col(f"_l{k}").isNotNull(),
                         (F.col("_v") - m) * (F.col(f"_l{k}") - m)))
            .alias(f"_c{k}"))
    agg = lagged.groupBy(key, "_grp").agg(*aggs)
    # biased acovf ratios r_k = c_k / c_0 (the shared 1/n cancels);
    # try_divide, not /: ANSI mode raises on the zero-variance /
    # perfectly-linear divisors the guards below are filtering
    r1 = F.try_divide(F.col("_c1"), F.col("_c0"))
    r2 = F.try_divide(F.col("_c2"), F.col("_c0"))
    r3 = F.try_divide(F.col("_c3"), F.col("_c0"))
    d2 = F.lit(1.0) - r1 * r1
    p2 = F.try_divide(r2 - r1 * r1, d2)
    p21 = r1 * (F.lit(1.0) - p2)
    d3 = F.lit(1.0) - p21 * r1 - p2 * r2
    p3 = F.try_divide(r3 - p21 * r2 - p2 * r1, d3)
    ok = (F.col("_c0") > 0)
    eps = F.lit(1e-12)
    agg = agg.select(
        key, "_grp",
        F.when(ok & (F.col("_n") > 1), r1).alias("_p1"),
        F.when(ok & (F.col("_n") > 2) & (F.abs(d2) > eps), p2)
        .alias("_p2"),
        F.when(ok & (F.col("_n") > 3) & (F.abs(d2) > eps)
               & (F.abs(d3) > eps), p3).alias("_p3"),
    )
    return agg.select(
        key, F.col("_grp").alias(bucket_col),
        F.expr("stack(3, 1, _p1, 2, _p2, 3, _p3) AS (lag, _pc)"),
    ).select(
        key, bucket_col, F.col("lag").cast("int").alias("lag"),
        portable_round(F.col("_pc"), _R).alias("pacf"),
    )


def theilsen_trend(tier_df: DataFrame, value_col: str,
                   key: str = "conv_id", bucket_col: str = "bucket_start",
                   group_seconds: int = 86400) -> DataFrame:
    """Per-(series, group-bucket) Theil–Sen robust trend over a
    rolled-up tier series: slope = median of all pairwise slopes,
    intercept = median(y − slope·x) — the breakdown-point-29% robust
    twin of ``linear_trend``'s OLS (one latency spike drags an OLS
    slope; the pairwise median shrugs it off), the estimator
    scipy.stats.theilslopes implements.

    Only groups with ≥ 2 points appear (a single point defines no
    slope); x is hours since the group-bucket start, matching
    ``linear_trend``'s slope_per_h units so the two are directly
    comparable.

    Shape — and why it scales despite being O(points²): the pair
    generation is a self-equi-join on (key, group) with an ``x <
    x′`` filter, and the TIER bounds the points per group by
    construction (1h tier × 1d group → ≤ 24 points → ≤ 276 pairs;
    never run it on raw events). Exact ``percentile`` per group then
    sorts ≤ 276 values — the single-reducer caveat of
    ``value_percentiles`` does not bite at a tier-bounded group
    size. ONE exchange clusters both join sides; the slope relation
    (one row per group) hash-joins back for the intercept pass.
    """
    grp = _bucket_expr(bucket_col, group_seconds)
    pts = tier_df.select(
        key,
        grp.alias("_grp"),
        ((F.unix_micros(F.col(bucket_col).cast("timestamp"))
          - F.unix_micros(grp)) / F.lit(3.6e9)).alias("_x"),
        F.col(value_col).cast("double").alias("_y"),
    ).where(F.col("_y").isNotNull())
    a, b = pts.alias("a"), pts.alias("b")
    slopes = a.join(
        b,
        (F.col(f"a.{key}") == F.col(f"b.{key}"))
        & (F.col("a._grp") == F.col("b._grp"))
        & (F.col("a._x") < F.col("b._x")),
    ).select(
        F.col(f"a.{key}").alias(key), F.col("a._grp").alias("_grp"),
        ((F.col("b._y") - F.col("a._y"))
         / (F.col("b._x") - F.col("a._x"))).alias("_s"),
    )
    sl = slopes.groupBy(key, "_grp").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.percentile(F.col("_s"), 0.5).alias("_slope"),
    )
    out = pts.join(sl, on=[key, "_grp"]).groupBy(
        key, "_grp", "n_pairs", "_slope"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.percentile(F.col("_y") - F.col("_slope") * F.col("_x"),
                     0.5).alias("_icpt"),
    )
    return out.select(
        key, F.col("_grp").alias(bucket_col), "n", "n_pairs",
        portable_round(F.col("_slope"), _R).alias("slope_per_h"),
        portable_round(F.col("_icpt"), _R).alias("intercept"),
    )


def spectral_power(tier_df: DataFrame, value_col: str,
                   periods_h: tuple[int, ...] = (24, 168),
                   key: str = "conv_id",
                   bucket_col: str = "bucket_start") -> DataFrame:
    """Single-frequency DFT power per series at CANDIDATE periods
    (hours) over an HOURLY tier series — "does this metric breathe
    daily (24) or weekly (168)?" — the Goertzel/periodogram probe
    behind season-length auto-detection (pick the m for
    holt_winters / snaive from the data instead of guessing).

    power_frac at period P = 2·(Rc² + Ri²) / (n·SS) where Rc/Ri are
    the mean-removed cosine/sine projections at frequency 1/P and SS
    the total sum of squares — the fraction of variance a sinusoid
    of period P explains: ≈1 for a pure P-periodic sinusoid sampled
    over whole periods, ≈0 for white noise (E ≈ 2/n). NULL when the
    series is constant (SS = 0) or has < 2 points.

    Every term is a plain SUM of a map-side expression — Σv, Σv²,
    Σcos, Σsin, Σv·cos, Σv·sin — so the whole operator is ONE
    map-side-combined groupBy carrying 6 doubles per (series,
    period): no window, no sort, no second exchange; the classic
    moment-aggregate decomposition (same family as ``linear_trend``'s
    regr_* and ``metric_corr``'s pair sums). The phase angle uses
    ``(hour_index mod P)`` so both engines evaluate trig on the same
    P distinct arguments (cross-engine cos/sin agree to ≤1 ulp;
    portable rounding absorbs it).
    """
    if not periods_h or any(int(p) < 2 for p in periods_h):
        raise ValueError(f"periods_h must be ints >= 2, got {periods_h!r}")
    periods = tuple(int(p) for p in periods_h)
    two_pi = 2.0 * math.pi
    th = F.floor(
        F.unix_micros(F.col(bucket_col).cast("timestamp"))
        / F.lit(3_600_000_000)
    ).cast("long")
    pts = tier_df.select(
        key, th.alias("_th"),
        F.col(value_col).cast("double").alias("_v"),
    ).where(F.col("_v").isNotNull())
    expanded = pts.select(
        key, "_v",
        F.explode(F.array(*[F.lit(p) for p in periods])).alias("period_h"),
        "_th",
    ).withColumn(
        "_ang",
        F.lit(two_pi) * F.pmod(F.col("_th"), F.col("period_h"))
        / F.col("period_h"),
    )
    c, s, v = F.cos(F.col("_ang")), F.sin(F.col("_ang")), F.col("_v")
    agg = expanded.groupBy(key, "period_h").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v).alias("_sv"), F.sum(v * v).alias("_svv"),
        F.sum(c).alias("_sc"), F.sum(s).alias("_ss"),
        F.sum(v * c).alias("_svc"), F.sum(v * s).alias("_svs"),
    )
    n = F.col("n").cast("double")
    ss_tot = F.col("_svv") - F.col("_sv") * F.col("_sv") / n
    rc = F.col("_svc") - F.col("_sv") * F.col("_sc") / n
    ri = F.col("_svs") - F.col("_sv") * F.col("_ss") / n
    power = F.when(
        (F.col("n") >= 2) & (ss_tot > 0),
        F.lit(2.0) * (rc * rc + ri * ri) / (n * ss_tot),
    ).otherwise(F.lit(None).cast("double"))
    return agg.select(
        key, F.col("period_h").cast("int").alias("period_h"), "n",
        portable_round(power, _R).alias("power_frac"),
    )


def absent_flags(tier_df: DataFrame, k: int = 3,
                 tier_seconds: int = 60,
                 key: str = "conv_id",
                 bucket_col: str = "bucket_start") -> DataFrame:
    """Prometheus-``absent()`` heartbeat monitoring: materialize every
    tier bucket between a series' first and last observation, count
    each run of consecutive EMPTY buckets, and flag ``absent`` from
    the k-th consecutive miss onward — the "this service stopped
    reporting" alert, the one failure mode every threshold detector
    is structurally blind to (no samples → no rows → no flags).

    Input: observed tier rows (one row per (key, bucket) that has
    data — e.g. a rollup tier). Output: the dense bucket grid with
    ``present`` (0/1), ``miss_run`` (position within the current gap,
    0 on present rows) and ``absent`` (miss_run ≥ k). Pure integer
    logic — engine-exact vs the oracle, no float rounding anywhere.

    Shape: the gap-fill run explode (``gapfill._run_explode``): each
    observed bucket expands to itself plus the empty buckets before
    the key's next observation, off one lead() window over a single
    key shuffle — no join, no cache. ``miss_run`` is the bucket's
    offset from its run's observed start. A NULL key never counts as
    present (as in a join), so its misses run from its first bucket.
    """
    from yahoo_anomaly_detection_spark.operators.gapfill import _run_explode

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if tier_seconds not in (60, 3600, 86400):
        raise ValueError(
            f"tier_seconds must be one of 60/3600/86400, got {tier_seconds}")
    first = F.first(bucket_col).over(
        W.partitionBy(key).orderBy(bucket_col))
    runs = _run_explode(tier_df.select(key, bucket_col).distinct(),
                        tier_seconds, key, bucket_col, first.alias("_b0"))
    present = F.col(key).isNotNull() & (F.col("_run_off") == 0)
    # 0 on a present row, so neither output needs a present case
    miss = F.when(F.col(key).isNotNull(), F.col("_run_off")).otherwise(
        (F.unix_seconds(F.col(bucket_col)) - F.unix_seconds(F.col("_b0")))
        / F.lit(int(tier_seconds))).cast("long")
    return runs.select(
        key,
        bucket_col,
        present.cast("int").alias("present"),
        miss.alias("miss_run"),
        F.when(miss >= F.lit(int(k)), F.lit(1)).otherwise(F.lit(0))
        .alias("absent"),
    )


def asof_snapshot(df: DataFrame, at, value_cols: tuple[str, ...],
                  key: str = "conv_id",
                  bucket_col: str = "bucket_start") -> DataFrame:
    """Instant query (PromQL's evaluation-time lookup / Grafana's
    "current value" stat panel): for every series, its LATEST row at
    or before ``at`` — the query a wall of stat tiles fires on every
    refresh, so its plan must be an aggregate, not a sort.

    ONE map-side-combined groupBy: ``max(bucket)`` plus one
    ``max_by(col, bucket)`` per requested column — partials merge on
    the reducers, no window, no per-series sort, no row_number over
    the corpus (the naive formulation). The range filter pushes down
    to the tier scan and prunes partitions. ``bucket_col`` is unique
    per key in a tier table, so max_by ties cannot occur and the
    row is deterministic. Series with no data at or before ``at``
    produce no row (a dashboard shows "no data", not a stale value).
    """
    b = F.col(bucket_col)
    lit_at = F.lit(at)
    return (
        df.where(b <= lit_at)
        .groupBy(key)
        .agg(
            F.max(b).alias(bucket_col),
            *[F.max_by(F.col(c), b).alias(c) for c in value_cols],
        )
    )


def dq_profile(df: DataFrame, bucket_seconds: int = 86400,
               key: str = "conv_id", ts_col: str = "ts",
               value_col: str = "value",
               order_cols: tuple[str, ...] = ("event_id",),
               lo: float | None = None,
               hi: float | None = None) -> DataFrame:
    """Per-(series, bucket) ingest data-quality audit: NULL share,
    duplicate timestamps, out-of-ingest-order rows, and (optionally)
    out-of-bounds values — the acceptance gate a 100 TB pipeline runs
    BEFORE trusting rollups built on the batch (a tier is only as
    good as the bronze rows feeding it; the refresh job's
    ``validate_in_order`` fails loudly on one violation, this
    operator PROFILES them all for triage).

    Checks (each a per-bucket count):
    - ``n_null``/``null_share`` — rows whose value is NULL;
    - ``n_dup_ts`` — rows sharing a timestamp with an earlier row of
      the same series (duplicates are adjacent under (ts, order)
      ordering, so ``ts == lag(ts)`` counts exactly n − distinct);
    - ``n_out_of_order`` — rows whose event time regresses vs the
      previous row in INGEST order (``order_cols``);
    - ``n_out_of_range`` — non-NULL values outside [lo, hi] (only
      emitted when a bound is given).

    ONE key exchange: both lag windows partition on the series key
    (two pipelined sort phases, no second shuffle) and the
    (key, bucket) groupBy's clustered distribution is satisfied by
    the same hash partitioning (counter_rate idiom, plan-audited).
    """
    if (lo is None) != (hi is None):
        raise ValueError("lo and hi must be given together")
    if lo is not None and lo > hi:
        raise ValueError(f"lo must be <= hi, got ({lo}, {hi})")
    ts = F.col(ts_col).cast("timestamp")
    v = F.col(value_col).cast("double")
    w_ingest = W.partitionBy(key).orderBy(*order_cols)
    w_time = W.partitionBy(key).orderBy(ts_col, *order_cols)
    flags = df.select(
        key,
        _bucket_expr(ts_col, bucket_seconds).alias("bucket_start"),
        v.isNull().cast("int").alias("_null"),
        (ts == F.lag(ts).over(w_time)).cast("int").alias("_dup"),
        (ts < F.lag(ts).over(w_ingest)).cast("int").alias("_ooo"),
        *([
            (v.isNotNull()
             & ((v < F.lit(float(lo))) | (v > F.lit(float(hi)))))
            .cast("int").alias("_oor"),
        ] if lo is not None else []),
    )
    n = F.count(F.lit(1))
    aggs = [
        n.alias("n"),
        F.sum("_null").cast("long").alias("n_null"),
        portable_round(F.sum("_null") / n, _R).alias("null_share"),
        F.coalesce(F.sum("_dup"), F.lit(0)).cast("long").alias("n_dup_ts"),
        F.coalesce(F.sum("_ooo"), F.lit(0)).cast("long")
         .alias("n_out_of_order"),
    ]
    if lo is not None:
        aggs.append(F.sum("_oor").cast("long").alias("n_out_of_range"))
    return flags.groupBy(key, "bucket_start").agg(*aggs)


def burstiness(df: DataFrame, bucket_seconds: int = 86400,
               key: str = "conv_id", ts_col: str = "ts",
               order_cols: tuple[str, ...] = ()) -> DataFrame:
    """Per-(series, bucket) inter-arrival burstiness profile: mean
    gap, coefficient of variation, and the Goh–Barabási burstiness
    parameter B = (σ − μ)/(σ + μ) ∈ [−1, 1] (B → −1 periodic
    heartbeat, 0 Poisson arrivals, → 1 bursty retry storms) — the
    arrival-pattern twin of the value detectors: an agent loop that
    suddenly machine-guns tool calls changes B long before any value
    threshold trips.

    Gaps are seconds since the series' previous event (lag over the
    key, total order (ts, order_cols)), attributed to the LATER
    event's bucket; a bucket's first-ever event carries no gap.
    σ is population std (ddof=0, the engine-wide convention).
    Degenerate buckets are NULL-guarded identically on both engines:
    zero gaps → NULL stats; all-equal gaps → cv 0, B −1 when μ > 0,
    NULL cv and B when μ = 0 (coincident timestamps).

    ONE key exchange: the lag window partitions on the key and the
    (key, bucket) groupBy reuses its hash partitioning.
    """
    ts = F.col(ts_col).cast("timestamp")
    w = W.partitionBy(key).orderBy(ts_col, *order_cols)
    gaps = df.select(
        key,
        _bucket_expr(ts_col, bucket_seconds).alias("bucket_start"),
        ((F.unix_micros(ts) - F.lag(F.unix_micros(ts)).over(w))
         / F.lit(1e6)).alias("_gap"),
    )
    g = F.col("_gap")
    agg = gaps.groupBy(key, "bucket_start").agg(
        F.count(g).alias("n_gaps"),
        F.avg(g).alias("_mu"),
        F.stddev_pop(g).alias("_sigma"),
    )
    mu, sigma = F.col("_mu"), F.col("_sigma")
    return agg.select(
        key,
        "bucket_start",
        "n_gaps",
        portable_round(mu, _R).alias("mean_gap_s"),
        portable_round(
            F.when(mu > 0, sigma / mu), _R).alias("cv"),
        portable_round(
            F.when(sigma + mu > 0, (sigma - mu) / (sigma + mu)), _R
        ).alias("burstiness"),
    )


def ensemble_flags(df: DataFrame, value_col: str,
                   keys: tuple[str, ...] = ("conv_id",),
                   order_col: str = "bucket_start",
                   z_k: float = 3.0, mad_k: float = 3.0,
                   slack_k: float = 0.5,
                   threshold_h: float = 5.0) -> DataFrame:
    """Majority-vote anomaly ensemble: the reference compares a
    family of detectors side by side over the same series
    (/root/reference/StatsTesting/ runs ARMA z-score, OCSVM and
    isolation-forest over identical Yahoo-S5 inputs); this operator
    ships the composition — run the engine's three statistical
    detectors over ONE series and flag where at least two agree:

    - z-score envelope |x − μ| > k·σ (the reference's own detector,
      arma_anm_detc.py:62-65),
    - robust median/MAD envelope (:func:`robust_flags` — immune to
      the outliers that inflate μ/σ),
    - two-sided CUSUM drift chart (:func:`cusum_flags` — catches
      sustained small shifts the point-wise pair misses).

    Majority voting suppresses each detector's characteristic false
    positives while keeping points that genuinely deviate by more
    than one definition. Output: keys + order + value + the three
    flags + ``votes`` + ``flag`` (votes ≥ 2).

    Scale shape: the input is materialized ONCE through the caching
    registry (caller releases — the robust_flags contract) and feeds
    all three detectors; every detector clusters on the same series
    key, and the final joins are equi-joins on the unique
    (keys, order) point identity.
    """
    from yahoo_anomaly_detection_spark import caching

    key_cols = list(keys)
    on = key_cols + [order_col]
    df = caching.materialize(df)
    v = F.col(value_col).cast("double")
    w_key = W.partitionBy(*key_cols)
    z = df.select(
        *on,
        F.col(value_col),
        F.when(
            F.abs(v - F.avg(v).over(w_key))
            > F.lit(float(z_k)) * F.stddev_pop(v).over(w_key),
            F.lit(1),
        ).otherwise(F.lit(0)).alias("z_flag"),
    )
    m = robust_flags(df, value_col, k=mad_k, keys=keys).select(
        *on, F.col("flag").alias("mad_flag")
    )
    c = cusum_flags(
        df, value_col, slack_k=slack_k, threshold_h=threshold_h,
        keys=keys, order_col=order_col,
    ).select(*on, F.col("flag").alias("cusum_flag"))
    votes = (
        F.col("z_flag") + F.col("mad_flag") + F.col("cusum_flag")
    ).alias("votes")
    return (
        z.join(m, on=on).join(c, on=on)
        .select(
            *on, F.col(value_col), "z_flag", "mad_flag", "cusum_flag",
            votes,
            F.when(
                F.col("z_flag") + F.col("mad_flag")
                + F.col("cusum_flag") >= 2,
                F.lit(1),
            ).otherwise(F.lit(0)).alias("flag"),
        )
    )


# ------------------------------------------------------------------ oracles
# Driver events table: (event_id, ts, user_id, event_type, value, props);
# conv_id := user_id per the engine's series adaptation (ingest.py).

_EV = """ev AS (
    SELECT CAST(user_id AS VARCHAR) AS conv_id, ts, value FROM events
)"""

# the series and its 1m / 1h mean tiers: the shared bases of the
# mean-series detectors (1m: mad/holt/ar2/…; 1h: theilsen/spectral)
_EV_T1M = f"\n{_EV},\n{mean_tier_sql('t1m', 'ev', 'minute')}\n"
_EV_T1H = f"\n{_EV},\n{mean_tier_sql('t1h', 'ev', 'hour')}\n"

_ACF_SQL = f"""
WITH {_EV_T1M},
lagged AS (
    SELECT conv_id, date_trunc('day', bucket_start) AS day, mean_v,
           lag(mean_v, 1) OVER w AS l1,
           lag(mean_v, 2) OVER w AS l2,
           lag(mean_v, 3) OVER w AS l3
    FROM t1m
    WINDOW w AS (PARTITION BY conv_id, date_trunc('day', bucket_start)
                 ORDER BY bucket_start)
),
agg AS (
    SELECT conv_id, day,
           corr(mean_v, l1) AS a1, count(l1) AS n1,
           corr(mean_v, l2) AS a2, count(l2) AS n2,
           corr(mean_v, l3) AS a3, count(l3) AS n3
    FROM lagged GROUP BY 1, 2
)
SELECT conv_id, day AS bucket_start, CAST(1 AS INT) AS lag,
       n1 AS n_pairs, round(a1, 4) AS acf FROM agg
UNION ALL
SELECT conv_id, day, CAST(2 AS INT), n2, round(a2, 4) FROM agg
UNION ALL
SELECT conv_id, day, CAST(3 AS INT), n3, round(a3, 4) FROM agg
"""

_PACF_SQL = f"""
WITH {_EV_T1M},
lagged AS (
    SELECT conv_id, date_trunc('day', bucket_start) AS day, mean_v AS v,
           lag(mean_v, 1) OVER w AS l1,
           lag(mean_v, 2) OVER w AS l2,
           lag(mean_v, 3) OVER w AS l3,
           avg(mean_v) OVER (PARTITION BY conv_id,
                             date_trunc('day', bucket_start)) AS m
    FROM t1m
    WINDOW w AS (PARTITION BY conv_id, date_trunc('day', bucket_start)
                 ORDER BY bucket_start)
),
agg AS (
    SELECT conv_id, day, count(*) AS n,
           sum((v - m) * (v - m)) AS c0,
           sum(CASE WHEN l1 IS NOT NULL THEN (v - m) * (l1 - m) END) AS c1,
           sum(CASE WHEN l2 IS NOT NULL THEN (v - m) * (l2 - m) END) AS c2,
           sum(CASE WHEN l3 IS NOT NULL THEN (v - m) * (l3 - m) END) AS c3
    FROM lagged GROUP BY 1, 2
),
r AS (
    SELECT conv_id, day, n,
           CASE WHEN c0 > 0 THEN c1 / c0 END AS r1,
           CASE WHEN c0 > 0 THEN c2 / c0 END AS r2,
           CASE WHEN c0 > 0 THEN c3 / c0 END AS r3
    FROM agg
),
lv2 AS (
    SELECT *, CASE WHEN abs(1 - r1 * r1) > 1e-12
                   THEN (r2 - r1 * r1) / (1 - r1 * r1) END AS p2
    FROM r
),
lv3 AS (
    SELECT *, r1 * (1 - p2) AS p21,
           1 - r1 * (1 - p2) * r1 - p2 * r2 AS d3
    FROM lv2
),
fin AS (
    SELECT conv_id, day, r1 AS p1, p2,
           CASE WHEN abs(d3) > 1e-12
                THEN (r3 - p21 * r2 - p2 * r1) / d3 END AS p3
    FROM lv3
)
SELECT conv_id, day AS bucket_start, CAST(1 AS INT) AS lag,
       round(p1, 4) AS pacf FROM fin
UNION ALL
SELECT conv_id, day, CAST(2 AS INT), round(p2, 4) FROM fin
UNION ALL
SELECT conv_id, day, CAST(3 AS INT), round(p3, 4) FROM fin
"""

_THEILSEN_SQL = f"""
WITH {_EV_T1H},
pts AS (
    SELECT conv_id, date_trunc('day', bucket_start) AS day,
           (epoch_us(bucket_start)
            - epoch_us(date_trunc('day', bucket_start))) / 3.6e9 AS x,
           mean_v AS y
    FROM t1h
),
slopes AS (
    SELECT a.conv_id, a.day, (b.y - a.y) / (b.x - a.x) AS s
    FROM pts a JOIN pts b
      ON a.conv_id = b.conv_id AND a.day = b.day AND a.x < b.x
),
sl AS (
    SELECT conv_id, day, count(*) AS n_pairs,
           quantile_cont(s, 0.5) AS slope
    FROM slopes GROUP BY 1, 2
)
SELECT p.conv_id, p.day AS bucket_start, count(*) AS n,
       sl.n_pairs,
       round(sl.slope, 4) AS slope_per_h,
       round(quantile_cont(p.y - sl.slope * p.x, 0.5), 4) AS intercept
FROM pts p JOIN sl ON p.conv_id = sl.conv_id AND p.day = sl.day
GROUP BY p.conv_id, p.day, sl.n_pairs, sl.slope
"""

_SPECTRAL_SQL = f"""
WITH {_EV_T1H},
pts AS (
    SELECT conv_id,
           epoch_us(bucket_start) // 3600000000 AS th,
           mean_v AS v
    FROM t1h
),
x AS (
    SELECT conv_id, p.period, v,
           cos(2 * pi() * (th % p.period) / p.period) AS c,
           sin(2 * pi() * (th % p.period) / p.period) AS s
    FROM pts CROSS JOIN (VALUES (24), (168)) p(period)
),
agg AS (
    SELECT conv_id, period, count(*) AS n,
           sum(v) AS sv, sum(v * v) AS svv,
           sum(c) AS sc, sum(s) AS ss_,
           sum(v * c) AS svc, sum(v * s) AS svs
    FROM x GROUP BY 1, 2
)
SELECT conv_id, CAST(period AS INT) AS period_h, n,
       round(CASE WHEN n >= 2 AND (svv - sv * sv / n) > 0
             THEN 2 * ((svc - sv * sc / n) * (svc - sv * sc / n)
                       + (svs - sv * ss_ / n) * (svs - sv * ss_ / n))
                  / (n * (svv - sv * sv / n))
             ELSE NULL END, 4) AS power_frac
FROM agg
"""

_MAD_SQL = f"""
WITH {_EV_T1M},
med AS (
    SELECT conv_id, quantile_cont(mean_v, 0.5) AS med FROM t1m GROUP BY 1
),
dev AS (
    SELECT t.conv_id, t.bucket_start, t.mean_v, m.med,
           abs(t.mean_v - m.med) AS adev
    FROM t1m t JOIN med m USING (conv_id)
),
mad AS (
    SELECT conv_id, quantile_cont(adev, 0.5) AS mad FROM dev GROUP BY 1
)
SELECT d.conv_id, d.bucket_start,
       round(d.mean_v, 4) AS mean_v,
       round(d.med, 4) AS med,
       round(a.mad, 4) AS mad,
       CASE WHEN d.adev > 3.0 * 1.4826 * a.mad THEN 1 ELSE 0 END AS flag
FROM dev d JOIN mad a USING (conv_id)
"""

# cross-sectional twin of _MAD_SQL: the robust envelope across the
# FLEET at each day bucket (who is abnormal vs everyone else today),
# instead of along each series' own history. Same interpolated
# median/MAD math; the grouping key flips from conv_id to the bucket.
_FLEET_SQL = f"""
WITH {_EV},
{mean_tier_sql("t1d", "ev", "day")},
med AS (
    SELECT bucket_start, quantile_cont(mean_v, 0.5) AS med
    FROM t1d GROUP BY 1
),
dev AS (
    SELECT t.conv_id, t.bucket_start, t.mean_v, m.med,
           abs(t.mean_v - m.med) AS adev
    FROM t1d t JOIN med m USING (bucket_start)
),
mad AS (
    SELECT bucket_start, quantile_cont(adev, 0.5) AS mad
    FROM dev GROUP BY 1
)
SELECT d.conv_id, d.bucket_start,
       round(d.mean_v, 4) AS mean_v,
       round(d.med, 4) AS med,
       round(a.mad, 4) AS mad,
       CASE WHEN d.adev > 3.0 * 1.4826 * a.mad THEN 1 ELSE 0 END AS flag
FROM dev d JOIN mad a USING (bucket_start)
"""

_COUNTER_RATE_SQL = """
WITH pts AS (
    SELECT CAST(user_id AS VARCHAR) AS conv_id, event_id, ts,
           CAST(value AS DOUBLE) AS v
    FROM events WHERE value IS NOT NULL
),
inc AS (
    SELECT conv_id, ts,
           CASE
               WHEN lag(v) OVER w IS NULL THEN NULL
               WHEN v >= lag(v) OVER w THEN v - lag(v) OVER w
               ELSE v
           END AS inc
    FROM pts WINDOW w AS (PARTITION BY conv_id ORDER BY ts, event_id)
)
SELECT conv_id,
       date_trunc('minute', ts) AS bucket_start,
       count(inc) AS n,
       round(sum(inc), 4) AS increase,
       round(sum(inc) / 60.0, 4) AS rate
FROM inc GROUP BY 1, 2
"""

_TURN_TAKING_SQL = """
WITH t AS (
    SELECT user_id, event_type,
           CASE WHEN lag(event_type) OVER w IS NOT NULL
                     AND lag(event_type) OVER w <> event_type
                THEN 1 ELSE 0 END AS sw,
           (epoch_us(ts) - lag(epoch_us(ts)) OVER w) / 1e6 AS gap
    FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, count(*) AS n_turns,
       count(DISTINCT event_type) AS n_roles,
       CAST(sum(sw) AS BIGINT) AS n_switches,
       round(avg(gap), 4) AS mean_gap_s,
       round(max(gap), 4) AS max_gap_s
FROM t GROUP BY 1
"""

_TWA_SQL = """
WITH pts AS (
    SELECT CAST(user_id AS VARCHAR) AS conv_id, event_id,
           date_trunc('hour', ts) AS bucket_start,
           epoch_us(ts) AS us, CAST(value AS DOUBLE) AS v
    FROM events WHERE value IS NOT NULL
),
seg AS (
    SELECT conv_id, bucket_start, us, v,
           CASE WHEN lead(us) OVER w IS NOT NULL
                THEN (v + lead(v) OVER w) / 2.0
                     * (lead(us) OVER w - us) / 1e6
           END AS area
    FROM pts
    WINDOW w AS (
        PARTITION BY conv_id, bucket_start ORDER BY us, event_id
    )
),
agg AS (
    SELECT conv_id, bucket_start, count(*) AS n,
           (max(us) - min(us)) / 1e6 AS span_s,
           avg(v) AS mean_v, sum(area) AS integral
    FROM seg GROUP BY 1, 2
)
SELECT conv_id, bucket_start, n,
       round(span_s, 4) AS span_s,
       round(CASE WHEN span_s > 0 THEN integral / span_s
                  ELSE mean_v END, 4) AS twa
FROM agg
"""

_HOLT_SQL = f"""
WITH RECURSIVE {_EV_T1M},
seq AS (
    SELECT conv_id, bucket_start, mean_v,
           row_number() OVER (PARTITION BY conv_id ORDER BY bucket_start)
               AS rn
    FROM t1m
),
holt AS (
    SELECT conv_id, rn, bucket_start, mean_v,
           CAST(mean_v AS DOUBLE) AS level, CAST(0 AS DOUBLE) AS trend
    FROM seq WHERE rn = 1
    UNION ALL
    SELECT s.conv_id, s.rn, s.bucket_start, s.mean_v,
           0.3 * s.mean_v + 0.7 * (h.level + h.trend) AS level,
           0.1 * (0.3 * s.mean_v + 0.7 * (h.level + h.trend) - h.level)
               + 0.9 * h.trend AS trend
    FROM holt h JOIN seq s ON s.conv_id = h.conv_id AND s.rn = h.rn + 1
)
SELECT conv_id, bucket_start, round(mean_v, 4) AS mean_v,
       round(level, 4) AS level, round(trend, 4) AS trend
FROM holt
"""

_HAMPEL_SQL = f"""
WITH {_EV_T1M},
fr AS (
    SELECT conv_id, bucket_start, mean_v AS v,
           list_sort(list(mean_v) OVER (
               PARTITION BY conv_id ORDER BY bucket_start
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)) AS arr
    FROM t1m
),
med AS (
    SELECT *, (arr[(len(arr) + 1) // 2] + arr[len(arr) // 2 + 1]) / 2.0
              AS m
    FROM fr
),
mad AS (
    SELECT *, list_sort(list_transform(arr, x -> abs(x - m))) AS dev
    FROM med
)
SELECT conv_id, bucket_start,
       round(v, 4) AS value, round(m, 4) AS rolling_med,
       round((dev[(len(dev) + 1) // 2] + dev[len(dev) // 2 + 1]) / 2.0, 4)
           AS rolling_mad,
       CAST(abs(v - m) > 3.0 * 1.4826 *
            ((dev[(len(dev) + 1) // 2] + dev[len(dev) // 2 + 1]) / 2.0)
            AS INT) AS flag
FROM mad
"""

_EWMA_CHART_SQL = f"""
WITH {_EV_T1M},
arr AS (
    SELECT conv_id,
           list(mean_v ORDER BY bucket_start) AS vs,
           list(bucket_start ORDER BY bucket_start) AS bs
    FROM t1m GROUP BY 1
),
ew AS (
    SELECT conv_id, bs, vs,
           list_transform(generate_series(1, len(vs)),
               i -> list_reduce(vs[1:i],
                                (acc, x) -> acc + 0.3 * (x - acc))) AS es
    FROM arr
),
flat AS (
    SELECT conv_id, unnest(bs) AS bucket_start, unnest(vs) AS v,
           unnest(es) AS z,
           unnest(generate_series(0, len(vs) - 1)) AS t
    FROM ew
),
st AS (
    SELECT *, avg(v) OVER w AS mu, stddev_pop(v) OVER w AS sig
    FROM flat WINDOW w AS (PARTITION BY conv_id)
),
lim AS (
    SELECT *,
           3.0 * sig * sqrt(power(0.7, 2.0 * t)
               + (0.3 / 1.7) * (1.0 - power(0.7, 2.0 * t))) AS l
    FROM st
)
SELECT conv_id, bucket_start, round(v, 4) AS value, round(z, 4) AS ewma,
       round(l, 4) AS "limit",
       CAST(abs(z - mu) > l AS INT) AS flag
FROM lim
"""

_KALMAN_SQL = f"""
WITH RECURSIVE {_EV_T1M},
seq AS (
    SELECT conv_id, bucket_start, mean_v,
           row_number() OVER (PARTITION BY conv_id ORDER BY bucket_start)
               AS rn
    FROM t1m
),
kf AS (
    SELECT conv_id, rn, bucket_start, mean_v,
           CAST(mean_v AS DOUBLE) AS level,
           CAST(1.0 AS DOUBLE) AS p,
           CAST(1.0 AS DOUBLE) AS gain
    FROM seq WHERE rn = 1
    UNION ALL
    SELECT s.conv_id, s.rn, s.bucket_start, s.mean_v,
           k.level + ((k.p + 0.2) / (k.p + 0.2 + 1.0))
               * (s.mean_v - k.level) AS level,
           (1.0 - (k.p + 0.2) / (k.p + 0.2 + 1.0)) * (k.p + 0.2) AS p,
           (k.p + 0.2) / (k.p + 0.2 + 1.0) AS gain
    FROM kf k JOIN seq s ON s.conv_id = k.conv_id AND s.rn = k.rn + 1
)
SELECT conv_id, bucket_start, round(mean_v, 4) AS mean_v,
       round(level, 4) AS level, round(gain, 4) AS gain
FROM kf
"""

_AR2_SQL = f"""
WITH {_EV_T1M},
dm AS (
    SELECT conv_id, bucket_start, mean_v,
           mean_v - avg(mean_v) OVER (PARTITION BY conv_id) AS d
    FROM t1m
),
dd AS (
    SELECT conv_id, bucket_start, mean_v, d,
           lag(d) OVER wo AS d1, lag(d, 2) OVER wo AS d2
    FROM dm
    WINDOW wo AS (PARTITION BY conv_id ORDER BY bucket_start)
),
cov AS (
    SELECT conv_id, count(*) AS n,
           sum(d * d) AS s0, sum(d * d1) AS s1, sum(d * d2) AS s2
    FROM dd GROUP BY 1
),
coef AS (
    SELECT conv_id,
           CASE WHEN (s0/n)*(s0/n) - (s1/n)*(s1/n) <> 0 THEN
               (s1/n) * ((s0/n) - (s2/n))
               / ((s0/n)*(s0/n) - (s1/n)*(s1/n))
           END AS phi1,
           CASE WHEN (s0/n)*(s0/n) - (s1/n)*(s1/n) <> 0 THEN
               ((s0/n)*(s2/n) - (s1/n)*(s1/n))
               / ((s0/n)*(s0/n) - (s1/n)*(s1/n))
           END AS phi2
    FROM cov
),
res AS (
    SELECT d.conv_id, d.bucket_start, d.mean_v, c.phi1, c.phi2,
           d.d - c.phi1 * d.d1 - c.phi2 * d.d2 AS resid
    FROM dd d JOIN coef c USING (conv_id)
),
st AS (
    SELECT avg(abs(resid)) AS mu_s, stddev_pop(abs(resid)) AS sd_s
    FROM res
)
SELECT conv_id, bucket_start, round(mean_v, 4) AS mean_v,
       round(phi1, 4) AS phi1, round(phi2, 4) AS phi2,
       round(resid, 4) AS resid,
       CASE WHEN abs(resid) > 3.0 * mu_s + sd_s THEN 1 ELSE 0 END AS pred
FROM res CROSS JOIN st
"""

_STL_SQL = f"""
WITH {{base}},
tr AS (
    SELECT conv_id, bucket_start, mean_v,
           avg(mean_v) OVER (PARTITION BY conv_id ORDER BY bucket_start
               ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING) AS trend,
           minute(bucket_start) AS phase
    FROM t1m
),
sea AS (
    SELECT conv_id, bucket_start, mean_v, trend, phase,
           avg(mean_v - trend) OVER (PARTITION BY conv_id, phase)
               AS seasonal
    FROM tr
)
SELECT conv_id, bucket_start, round(mean_v, 4) AS mean_v,
       round(trend, 4) AS trend, phase,
       round(seasonal, 4) AS seasonal,
       round(mean_v - trend - seasonal, 4) AS resid
FROM sea
"""

_SEASON_STRENGTH_SQL = f"""
WITH {{base}},
tr AS (
    SELECT conv_id, bucket_start, mean_v,
           avg(mean_v) OVER (PARTITION BY conv_id ORDER BY bucket_start
               ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING) AS trend,
           minute(bucket_start) AS phase
    FROM t1m
),
sea AS (
    SELECT conv_id, trend,
           avg(mean_v - trend) OVER (PARTITION BY conv_id, phase)
               AS seasonal,
           mean_v
    FROM tr
),
comp AS (
    SELECT conv_id, trend, seasonal,
           mean_v - trend - seasonal AS resid
    FROM sea
)
SELECT conv_id, count(*) AS n_points,
       round(CASE WHEN var_pop(trend + resid) > 0
             THEN greatest(0.0, 1.0 - var_pop(resid)
                                      / var_pop(trend + resid)) END, 4)
           AS trend_strength,
       round(CASE WHEN var_pop(seasonal + resid) > 0
             THEN greatest(0.0, 1.0 - var_pop(resid)
                                      / var_pop(seasonal + resid)) END, 4)
           AS seasonal_strength
FROM comp GROUP BY conv_id
"""

# LTTB picks are sequential per series (not SQL-expressible); the
# oracle verifies the selection INVARIANTS from the input alone:
# exactly least(n, n_out) points kept, endpoints always kept. The
# `selected` flag lives on input rows, so subset-ness holds by
# construction.
_LTTB_CHECK_SQL = f"""
WITH {{base}}
SELECT conv_id, count(*) AS n_in,
       least(count(*), 20) AS n_sel,
       1 AS first_sel, 1 AS last_sel
FROM t1m GROUP BY 1
"""

_CANDLES_SQL = """
WITH pts AS (
    SELECT CAST(user_id AS VARCHAR) AS conv_id, event_id,
           date_trunc('hour', ts) AS bucket_start, ts,
           CAST(value AS DOUBLE) AS v
    FROM events WHERE value IS NOT NULL
),
rk AS (
    SELECT conv_id, bucket_start, v,
           row_number() OVER wa AS rn_a, row_number() OVER wd AS rn_d
    FROM pts
    WINDOW wa AS (PARTITION BY conv_id, bucket_start
                  ORDER BY ts, event_id),
           wd AS (PARTITION BY conv_id, bucket_start
                  ORDER BY ts DESC, event_id DESC)
)
SELECT conv_id, bucket_start, count(*) AS n,
       round(max(CASE WHEN rn_a = 1 THEN v END), 4) AS open,
       round(max(v), 4) AS high,
       round(min(v), 4) AS low,
       round(max(CASE WHEN rn_d = 1 THEN v END), 4) AS close
FROM rk GROUP BY 1, 2
"""

_M4_SQL = """
WITH pts AS (
    SELECT CAST(user_id AS VARCHAR) AS conv_id, event_id,
           date_trunc('hour', ts) AS bucket_start, ts,
           CAST(value AS DOUBLE) AS v
    FROM events WHERE value IS NOT NULL
),
rk AS (
    SELECT conv_id, bucket_start, ts, v,
           row_number() OVER wa AS rn_a, row_number() OVER wd AS rn_d,
           row_number() OVER wlo AS rn_lo, row_number() OVER whi AS rn_hi
    FROM pts
    WINDOW wa AS (PARTITION BY conv_id, bucket_start
                  ORDER BY ts, event_id),
           wd AS (PARTITION BY conv_id, bucket_start
                  ORDER BY ts DESC, event_id DESC),
           wlo AS (PARTITION BY conv_id, bucket_start
                   ORDER BY v, ts, event_id),
           whi AS (PARTITION BY conv_id, bucket_start
                   ORDER BY v DESC, ts, event_id)
)
SELECT conv_id, bucket_start, count(*) AS n,
       max(CASE WHEN rn_a = 1 THEN ts END) AS first_ts,
       round(max(CASE WHEN rn_a = 1 THEN v END), 4) AS first_v,
       max(CASE WHEN rn_d = 1 THEN ts END) AS last_ts,
       round(max(CASE WHEN rn_d = 1 THEN v END), 4) AS last_v,
       max(CASE WHEN rn_lo = 1 THEN ts END) AS low_ts,
       round(max(CASE WHEN rn_lo = 1 THEN v END), 4) AS low_v,
       max(CASE WHEN rn_hi = 1 THEN ts END) AS high_ts,
       round(max(CASE WHEN rn_hi = 1 THEN v END), 4) AS high_v
FROM rk GROUP BY 1, 2
"""

_CHANGEPOINT_SQL = f"""
WITH {{base}},
st AS (
    SELECT conv_id, bucket_start, mean_v,
           count(mean_v) OVER wl AS nl, avg(mean_v) OVER wl AS mean_l,
           var_pop(mean_v) OVER wl AS vl,
           count(mean_v) OVER wr AS nr, avg(mean_v) OVER wr AS mean_r,
           var_pop(mean_v) OVER wr AS vr
    FROM t1m
    WINDOW wl AS (PARTITION BY conv_id ORDER BY bucket_start
                  ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING),
           wr AS (PARTITION BY conv_id ORDER BY bucket_start
                  ROWS BETWEEN CURRENT ROW AND 9 FOLLOWING)
)
SELECT conv_id, bucket_start, round(mean_v, 4) AS mean_v,
       round(mean_l, 4) AS mean_l, round(mean_r, 4) AS mean_r,
       round(CASE WHEN sqrt(vl / 10 + vr / 10) > 0
                  THEN abs(mean_r - mean_l) / sqrt(vl / 10 + vr / 10)
             END, 4) AS score,
       CASE WHEN nl = 10 AND nr = 10
                 AND (CASE WHEN sqrt(vl / 10 + vr / 10) > 0
                           THEN abs(mean_r - mean_l)
                                / sqrt(vl / 10 + vr / 10) > 3.0
                           ELSE abs(mean_r - mean_l) > 0 END)
            THEN 1 ELSE 0 END AS flag
FROM st
"""

_SEASONAL_SQL = f"""
WITH {_EV_T1M},
ph AS (
    SELECT conv_id, bucket_start, mean_v,
           minute(bucket_start) AS phase
    FROM t1m
),
prof AS (
    SELECT conv_id, phase, avg(mean_v) AS phase_mean,
           stddev_pop(mean_v) AS phase_std
    FROM ph GROUP BY 1, 2
)
SELECT p.conv_id, p.bucket_start, round(p.mean_v, 4) AS mean_v,
       p.phase, round(f.phase_mean, 4) AS phase_mean,
       round(f.phase_std, 4) AS phase_std,
       CASE WHEN abs(p.mean_v - f.phase_mean) > 3.0 * f.phase_std
            THEN 1 ELSE 0 END AS flag
FROM ph p JOIN prof f USING (conv_id, phase)
"""

_CUSUM_SQL = f"""
WITH RECURSIVE {_EV_T1M},
st AS (
    SELECT conv_id, avg(mean_v) AS mu, stddev_pop(mean_v) AS sigma
    FROM t1m GROUP BY 1
),
seq AS (
    SELECT t.conv_id, t.bucket_start, t.mean_v, s.mu, s.sigma,
           row_number() OVER (PARTITION BY t.conv_id
                              ORDER BY t.bucket_start) AS rn
    FROM t1m t JOIN st s USING (conv_id)
),
cu AS (
    SELECT conv_id, rn, bucket_start, mean_v, mu, sigma,
           greatest(0, mean_v - mu - 0.5 * sigma) AS s_pos,
           greatest(0, mu - mean_v - 0.5 * sigma) AS s_neg
    FROM seq WHERE rn = 1
    UNION ALL
    -- dev is parenthesized to match the engine's float association
    -- (the kernel adds a precomputed per-row deviation to the state)
    SELECT s.conv_id, s.rn, s.bucket_start, s.mean_v, s.mu, s.sigma,
           greatest(0, c.s_pos + (s.mean_v - s.mu - 0.5 * s.sigma)),
           greatest(0, c.s_neg + (s.mu - s.mean_v - 0.5 * s.sigma))
    FROM cu c JOIN seq s ON s.conv_id = c.conv_id AND s.rn = c.rn + 1
)
SELECT conv_id, bucket_start, round(mean_v, 4) AS mean_v,
       round(s_pos, 4) AS s_pos, round(s_neg, 4) AS s_neg,
       CASE WHEN s_pos > 5.0 * sigma OR s_neg > 5.0 * sigma
            THEN 1 ELSE 0 END AS flag
FROM cu
"""

def _hist_quantile_sql(q: float, bs: tuple[float, ...]) -> str:
    """Oracle mirror of :func:`hist_quantile` at the driver defaults —
    generated from the SAME boundary list so the CASE chain and float
    association match the Spark expression branch for branch."""
    cums = ",\n           ".join(
        f"sum(CASE WHEN v <= {b!r} THEN 1 ELSE 0 END) AS c{i}"
        for i, b in enumerate(bs))
    branches = []
    for i, b in enumerate(bs):
        ci = f"CAST(c{i} AS DOUBLE)"
        cprev = "0.0" if i == 0 else f"CAST(c{i - 1} AS DOUBLE)"
        lo = "0.0" if i == 0 else repr(bs[i - 1])
        branches.append(
            f"WHEN {ci} >= rnk THEN {lo} + ({b!r} - {lo})"
            f" * ((rnk - {cprev}) / ({ci} - {cprev}))")
    case = "CASE " + "\n                  ".join(branches) \
        + f" ELSE {bs[-1]!r} END"
    return f"""
WITH pts AS (
    SELECT event_type, date_trunc('day', ts) AS bucket_start,
           CAST(value AS DOUBLE) AS v
    FROM events WHERE value IS NOT NULL
),
agg AS (
    SELECT event_type, bucket_start, count(v) AS n,
           {cums}
    FROM pts GROUP BY 1, 2
),
rk AS (SELECT *, {q!r} * CAST(n AS DOUBLE) AS rnk FROM agg)
SELECT event_type, bucket_start, n,
       round({case}, 4) AS q_est
FROM rk
"""


# breach run segments over the 1m mean series at the driver's
# threshold — shared by the alert_states and breach_intervals
# oracles so the segmentation can never drift between them (it
# mirrors the one _run_segments Spark helper both operators share)
BREACH_SEGS_SQL = """
b AS (
    SELECT conv_id, bucket_start, mean_v,
           CASE WHEN mean_v > 100.0 THEN 1 ELSE 0 END AS breach
    FROM t1m
),
nr AS (
    SELECT *, CASE WHEN breach = 1
                        AND coalesce(lag(breach) OVER w, 0) = 0
                   THEN 1 ELSE 0 END AS new_run
    FROM b WINDOW w AS (PARTITION BY conv_id ORDER BY bucket_start)
),
sg AS (
    SELECT *, sum(new_run) OVER (PARTITION BY conv_id
                                 ORDER BY bucket_start
                                 ROWS UNBOUNDED PRECEDING) AS seg
    FROM nr
)
"""

_ALERT_SQL = f"""
WITH {_EV_T1M},
{BREACH_SEGS_SQL.strip()},
rp AS (
    SELECT *, sum(breach) OVER (PARTITION BY conv_id, seg
                                ORDER BY bucket_start
                                ROWS UNBOUNDED PRECEDING) AS rpos
    FROM sg
)
SELECT conv_id, bucket_start, round(mean_v, 4) AS mean_v, breach,
       CAST(CASE WHEN breach = 1 THEN rpos ELSE 0 END AS BIGINT)
           AS run_pos,
       CASE WHEN breach = 0 THEN 'ok'
            WHEN rpos >= 3 THEN 'firing' ELSE 'pending' END AS state
FROM rp
"""


def _metric_corr_sql(metrics: tuple[str, ...]) -> str:
    """Oracle mirror of :func:`metric_corr` at the driver defaults
    (hour grid, day correlation buckets), its co-moments generated
    from the same pair fits as the Spark side."""
    mcols = ",\n           ".join(
        f"avg(CASE WHEN event_type = '{m}' THEN v END) AS m{i}"
        for i, m in enumerate(metrics))
    in_list = ", ".join(f"'{m}'" for m in metrics)
    src = "(SELECT date_trunc('day', g) AS _day, * FROM grid)"
    return f"""
WITH grid AS (
    SELECT date_trunc('hour', ts) AS g,
           {mcols}
    FROM (SELECT event_type, ts, CAST(value AS DOUBLE) AS v
          FROM events
          WHERE value IS NOT NULL AND event_type IN ({in_list}))
    GROUP BY 1
),
{_pair_corr_sql(src, "_day", "m", "m", metrics)}
SELECT _day AS bucket_start, metric_a, metric_b, n_pts, r FROM pc
"""


def _pair_corr_sql(src: str, by: str, xp: str, yp: str, ms) -> str:
    """SQL twin of :func:`_pair_corr`: the co-moment CTEs plus ``pc``,
    one (by, metric_a, metric_b, n_pts, r) row per group and pair."""
    pairs = [(i, j) for i in range(len(ms)) for j in range(i + 1, len(ms))]
    fits = [Fit({"x": f"{xp}{i}", "y": f"{yp}{j}"},
                f"{xp}{i} IS NOT NULL AND {yp}{j} IS NOT NULL", f"_{i}_{j}")
            for i, j in pairs]
    rows = "\n    UNION ALL".join(f"""
    SELECT {by}, '{ms[i]}' AS metric_a, '{ms[j]}' AS metric_b,
           n_{i}_{j} AS n_pts, round({pearson_sql(f"_{i}_{j}")}, 4) AS r
    FROM agg""" for i, j in pairs)
    return f"""{comoments_sql("agg", src, [by], PEARSON, *fits)},
pc AS ({rows}
)"""


def _leadlag_sql(metrics: tuple[str, ...], max_lag: int,
                 grid_seconds: int = 3600) -> str:
    """Oracle mirror of :func:`leadlag_corr` at the driver defaults."""
    ms = list(metrics)
    in_list = ", ".join(f"'{m}'" for m in ms)
    mcols = ",\n           ".join(
        f"avg(CASE WHEN event_type = '{m}' THEN v END) AS m{i}"
        for i, m in enumerate(ms))
    xy = ", ".join(
        [f"a.m{i} AS x{i}" for i in range(len(ms))]
        + [f"b.m{i} AS y{i}" for i in range(len(ms))])
    return f"""
WITH grid AS (
    SELECT date_trunc('hour', ts) AS g,
           {mcols}
    FROM (SELECT event_type, ts, CAST(value AS DOUBLE) AS v
          FROM events
          WHERE value IS NOT NULL AND event_type IN ({in_list}))
    GROUP BY 1
),
lags AS (SELECT unnest(range(-{max_lag}, {max_lag + 1})) AS lag),
j AS (
    SELECT l.lag, {xy}
    FROM grid a CROSS JOIN lags l
    JOIN grid b
      ON b.g = a.g + (l.lag * {grid_seconds}) * INTERVAL 1 SECOND
),
{_pair_corr_sql("j", "lag", "x", "y", ms)}
SELECT metric_a, metric_b, CAST(lag AS INT) AS lag, n_pts, r,
       CAST(row_number() OVER (
                PARTITION BY metric_a, metric_b
                ORDER BY abs(r) DESC NULLS LAST, lag ASC) = 1 AS INT)
           AS best
FROM pc
"""


def sax_motifs(events: DataFrame, k: int = 20, n_frames: int = 4,
               alphabet: int = 4, key: str = "conv_id",
               ts_col: str = "ts", value_col: str = "value") -> DataFrame:
    """Corpus-level motif table over the SAX index: the k most
    frequent COMPLETE hour-words (all ``n_frames`` frames present)
    across every (series, hour), with how many distinct series
    exhibit each shape — the "what does a normal hour look like /
    which shapes recur fleet-wide" read-out that motif discovery
    (Lin et al.'s original SAX use case) starts from.

    Rides :func:`sax_words` (its exchanges dominate); the motif
    rollup itself is a map-side-combined groupBy over the
    one-row-per-(series, hour) word relation, distinct-series via
    exact count_distinct, finished with TakeOrderedAndProject —
    never a global sort.

    Output: (word, n_occurrences, n_series, rank).
    """
    words = sax_words(events, n_frames=n_frames, alphabet=alphabet,
                      key=key, ts_col=ts_col, value_col=value_col)
    counts = (
        words.where(F.col("n_frames") == n_frames)
        .groupBy("word")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct(key).alias("n_series"),
        )
    )
    top = counts.orderBy(
        F.desc("n_occurrences"), F.asc("word")).limit(k)
    return top.select(
        "word", "n_occurrences", "n_series",
        F.row_number().over(
            W.orderBy(F.desc("n_occurrences"), F.asc("word"))
        ).cast("int").alias("rank"),
    )


def _sax_motifs_sql(k: int, n_frames: int, alphabet: int) -> str:
    return f"""
WITH sax AS ({_sax_sql(n_frames, alphabet)}),
c AS (
    SELECT word, count(*) AS n_occurrences,
           count(DISTINCT conv_id) AS n_series
    FROM sax WHERE n_frames = {n_frames} GROUP BY 1
)
SELECT word, n_occurrences, n_series,
       CAST(row_number() OVER (ORDER BY n_occurrences DESC, word ASC)
            AS INT) AS rank
FROM c ORDER BY n_occurrences DESC, word ASC LIMIT {k}
"""


def sax_discords(events: DataFrame, n_frames: int = 4,
                 alphabet: int = 4, key: str = "conv_id",
                 ts_col: str = "ts", value_col: str = "value") -> DataFrame:
    """Per-series SAX discord: the hour whose COMPLETE hour-word is
    rarest corpus-wide — the anomaly-candidate read-out that
    complements :func:`sax_motifs` (motif = the shape everyone has;
    discord = the shape almost nobody has, Keogh's HOT SAX idea at
    hour granularity). A series whose discord word has occurrence 1
    spent that hour in a shape NO other (series, hour) exhibits —
    the triage list an on-call engineer reads first.

    Deterministic tie-break: lowest corpus count, then earliest hour.

    Scale shape: rides :func:`sax_words` (its exchanges dominate);
    the word-count relation is word-vocabulary-sized and joins back
    onto the one-row-per-(series, hour) word relation; the final
    top-1 window partitions by series, so per-task input is one
    series' hour count — bounded by retention, never corpus-wide.

    Output: (key, bucket_start, word, n_occurrences) — one row per
    series that has at least one complete word.
    """
    words = sax_words(events, n_frames=n_frames, alphabet=alphabet,
                      key=key, ts_col=ts_col, value_col=value_col)
    complete = words.where(F.col("n_frames") == n_frames).select(
        key, "bucket_start", "word")
    counts = complete.groupBy("word").agg(
        F.count(F.lit(1)).alias("n_occurrences"))
    w = W.partitionBy(key).orderBy(
        F.asc("n_occurrences"), F.asc("bucket_start"))
    return (
        complete.join(counts, "word")
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(key, "bucket_start", "word", "n_occurrences")
    )


def _sax_discords_sql(n_frames: int, alphabet: int) -> str:
    return f"""
WITH sax AS ({_sax_sql(n_frames, alphabet)}),
complete AS (
    SELECT conv_id, bucket_start, word FROM sax
    WHERE n_frames = {n_frames}
),
c AS (SELECT word, count(*) AS n_occurrences FROM complete GROUP BY 1)
SELECT conv_id, bucket_start, word, n_occurrences
FROM complete JOIN c USING (word)
QUALIFY row_number() OVER (PARTITION BY conv_id
                           ORDER BY n_occurrences ASC,
                                    bucket_start ASC) = 1
"""


def _holt_winters_sql(alpha: float = 0.3, beta: float = 0.1,
                      gamma: float = 0.2, m: int = 4) -> str:
    """Recursive-CTE mirror of the additive Holt-Winters recursion,
    seasonal slots as m explicit columns (the holt-oracle pattern —
    same-SELECT aliases can't be referenced, so the level expression
    is textually expanded inside the trend/seasonal expressions;
    DuckDB list_reduce struct accumulators are broken, see _HOLT_SQL)."""
    a, b, g = float(alpha), float(beta), float(gamma)
    scols = ", ".join(f"CAST(0 AS DOUBLE) AS s{i}" for i in range(m))
    sp = (f"CASE ((s.rn - 1) % {m}) "
          + " ".join(f"WHEN {i} THEN h.s{i}" for i in range(m))
          + " END")
    lvl = f"({a} * (s.mean_v - ({sp})) + {1.0 - a} * (h.level + h.trend))"
    trend = f"({b} * ({lvl} - h.level) + {1.0 - b} * h.trend)"
    snew = f"({g} * (s.mean_v - {lvl}) + {1.0 - g} * ({sp}))"
    supd = ",\n           ".join(
        f"CASE WHEN (s.rn - 1) % {m} = {i} THEN {snew} "
        f"ELSE h.s{i} END AS s{i}"
        for i in range(m))
    return f"""
WITH RECURSIVE {{base}},
seq AS (
    SELECT conv_id, bucket_start, mean_v,
           row_number() OVER (PARTITION BY conv_id ORDER BY bucket_start)
               AS rn
    FROM t1m
),
hw AS (
    SELECT conv_id, rn, bucket_start, mean_v,
           CAST(mean_v AS DOUBLE) AS level, CAST(0 AS DOUBLE) AS trend,
           CAST(0 AS DOUBLE) AS seasonal, {scols}
    FROM seq WHERE rn = 1
    UNION ALL
    SELECT s.conv_id, s.rn, s.bucket_start, s.mean_v,
           {lvl} AS level,
           {trend} AS trend,
           {snew} AS seasonal,
           {supd}
    FROM hw h JOIN seq s ON s.conv_id = h.conv_id AND s.rn = h.rn + 1
)
SELECT conv_id, bucket_start, round(mean_v, 4) AS mean_v,
       round(level, 4) AS level, round(trend, 4) AS trend,
       round(seasonal, 4) AS seasonal
FROM hw
"""


_SNAIVE_SQL = f"""
WITH {{base}},
f AS (
    SELECT conv_id, mean_v,
           lag(mean_v) OVER (PARTITION BY conv_id, minute(bucket_start)
                             ORDER BY bucket_start) AS fc
    FROM t1m
)
SELECT conv_id, CAST(count(*) AS BIGINT) AS n_eval,
       round(avg(abs(mean_v - fc)), 4) AS mae,
       round(avg(2 * abs(mean_v - fc)
                 / nullif(abs(mean_v) + abs(fc), 0)), 4) AS smape
FROM f WHERE fc IS NOT NULL GROUP BY 1
"""


def _psi_sql(boundaries: tuple[float, ...],
             smoothing: float = 0.5) -> str:
    n_bins = len(boundaries) + 1
    s = float(smoothing)
    bin_expr = " + ".join(
        f"CASE WHEN value > {float(b)} THEN 1 ELSE 0 END"
        for b in boundaries)
    bsums = ",\n           ".join(
        f"sum(CASE WHEN bin = {i} THEN 1 ELSE 0 END) AS b{i}"
        for i in range(n_bins))
    lags = ",\n           ".join(
        f"lag(b{i}) OVER w AS pb{i}" for i in range(n_bins))
    terms = " + ".join(
        f"(((b{i} + {s}) / (n + {s} * {n_bins}))"
        f" - ((pb{i} + {s}) / (pn + {s} * {n_bins})))"
        f" * ln(((b{i} + {s}) / (n + {s} * {n_bins}))"
        f" / ((pb{i} + {s}) / (pn + {s} * {n_bins})))"
        for i in range(n_bins))
    return f"""
WITH pts AS (
    SELECT event_type, date_trunc('day', ts) AS bucket_start,
           ({bin_expr}) AS bin
    FROM events WHERE value IS NOT NULL
),
hist AS (
    SELECT event_type, bucket_start, count(*) AS n,
           {bsums}
    FROM pts GROUP BY 1, 2
),
pr AS (
    SELECT event_type, bucket_start, n,
           lag(n) OVER w AS pn,
           {lags},
           b0{''.join(f', b{i}' for i in range(1, n_bins))}
    FROM hist
    WINDOW w AS (PARTITION BY event_type ORDER BY bucket_start)
)
SELECT event_type, bucket_start, CAST(n AS BIGINT) AS n,
       round({terms}, 4) AS psi
FROM pr WHERE pn IS NOT NULL
"""


# regr_slope/regr_intercept/regr_r2 are ANSI aggregates with matching
# edge semantics on both engines (verified: single sample / zero time
# variance → NULL; constant value over varying time → slope 0, r² 1),
# so the oracle is a literal transcription of the same moment math.
_TREND_SQL = """
WITH pts AS (
    SELECT CAST(user_id AS VARCHAR) AS conv_id,
           date_trunc('day', ts) AS bucket_start,
           (epoch_us(ts) - epoch_us(date_trunc('day', ts))) / 3.6e9 AS x,
           CAST(value AS DOUBLE) AS y
    FROM events WHERE value IS NOT NULL
)
SELECT conv_id, bucket_start, count(*) AS n,
       round(regr_slope(y, x), 4) AS slope_per_h,
       round(regr_intercept(y, x), 4) AS intercept,
       round(regr_r2(y, x), 4) AS r2
FROM pts GROUP BY 1, 2
"""

# majority vote of the three per-series detectors, each transcribed
# from its own oracle (_MAD_SQL's median/MAD envelope, _CUSUM_SQL's
# recursive drift chart, the reference z-score envelope) over the
# shared 1m mean series; (conv_id, bucket_start) is unique in t1m so
# the flag joins are key-preserving.
_ENSEMBLE_SQL = f"""
WITH RECURSIVE {_EV_T1M},
st AS (
    SELECT conv_id, avg(mean_v) AS mu, stddev_pop(mean_v) AS sigma
    FROM t1m GROUP BY 1
),
med AS (
    SELECT conv_id, quantile_cont(mean_v, 0.5) AS med FROM t1m GROUP BY 1
),
dev AS (
    SELECT t.conv_id, t.bucket_start, abs(t.mean_v - m.med) AS adev
    FROM t1m t JOIN med m USING (conv_id)
),
mad AS (
    SELECT conv_id, quantile_cont(adev, 0.5) AS mad FROM dev GROUP BY 1
),
seq AS (
    SELECT t.conv_id, t.bucket_start, t.mean_v, s.mu, s.sigma,
           row_number() OVER (PARTITION BY t.conv_id
                              ORDER BY t.bucket_start) AS rn
    FROM t1m t JOIN st s USING (conv_id)
),
cu AS (
    SELECT conv_id, rn, bucket_start, mean_v, mu, sigma,
           greatest(0, mean_v - mu - 0.5 * sigma) AS s_pos,
           greatest(0, mu - mean_v - 0.5 * sigma) AS s_neg
    FROM seq WHERE rn = 1
    UNION ALL
    SELECT s.conv_id, s.rn, s.bucket_start, s.mean_v, s.mu, s.sigma,
           greatest(0, c.s_pos + (s.mean_v - s.mu - 0.5 * s.sigma)),
           greatest(0, c.s_neg + (s.mu - s.mean_v - 0.5 * s.sigma))
    FROM cu c JOIN seq s ON s.conv_id = c.conv_id AND s.rn = c.rn + 1
),
flags AS (
    SELECT q.conv_id, q.bucket_start, q.mean_v,
           CASE WHEN abs(q.mean_v - q.mu) > 3.0 * q.sigma
                THEN 1 ELSE 0 END AS z_flag,
           CASE WHEN d.adev > 3.0 * 1.4826 * a.mad
                THEN 1 ELSE 0 END AS mad_flag,
           CASE WHEN c.s_pos > 5.0 * q.sigma OR c.s_neg > 5.0 * q.sigma
                THEN 1 ELSE 0 END AS cusum_flag
    FROM seq q
    JOIN dev d ON d.conv_id = q.conv_id AND d.bucket_start = q.bucket_start
    JOIN mad a ON a.conv_id = q.conv_id
    JOIN cu c ON c.conv_id = q.conv_id AND c.bucket_start = q.bucket_start
)
SELECT conv_id, bucket_start, round(mean_v, 4) AS mean_v,
       z_flag, mad_flag, cusum_flag,
       z_flag + mad_flag + cusum_flag AS votes,
       CASE WHEN z_flag + mad_flag + cusum_flag >= 2
            THEN 1 ELSE 0 END AS flag
FROM flags
"""


# DQ audit over the events log + deterministically injected dirt
# (every event_id % 41 == 0 row re-appended with a huge ingest id and
# a NULL value: a duplicate timestamp, a NULL, and — at each conv's
# block transition — an ingest-order regression), so all five checks
# carry signal on the clean fixture; bounds (1, 200) catch the real
# value tails
_DQ_SQL = """
WITH pts AS (
    SELECT CAST(user_id AS VARCHAR) AS conv_id, event_id, ts,
           CAST(value AS DOUBLE) AS v
    FROM events
    UNION ALL
    SELECT CAST(user_id AS VARCHAR), event_id + 100000000, ts,
           CAST(NULL AS DOUBLE)
    FROM events WHERE event_id % 41 = 0
),
f AS (
    SELECT conv_id, date_trunc('day', ts) AS bucket_start,
           CASE WHEN v IS NULL THEN 1 ELSE 0 END AS isn,
           CASE WHEN ts = lag(ts) OVER wt THEN 1 ELSE 0 END AS dup,
           CASE WHEN ts < lag(ts) OVER wi THEN 1 ELSE 0 END AS ooo,
           CASE WHEN v IS NOT NULL AND (v < 1.0 OR v > 200.0)
                THEN 1 ELSE 0 END AS oor
    FROM pts
    WINDOW wt AS (PARTITION BY conv_id ORDER BY ts, event_id),
           wi AS (PARTITION BY conv_id ORDER BY event_id)
)
SELECT conv_id, bucket_start,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(isn) AS BIGINT) AS n_null,
       round(sum(isn) * 1.0 / count(*), 4) AS null_share,
       CAST(sum(dup) AS BIGINT) AS n_dup_ts,
       CAST(sum(ooo) AS BIGINT) AS n_out_of_order,
       CAST(sum(oor) AS BIGINT) AS n_out_of_range
FROM f GROUP BY 1, 2
"""

# instant query at a fixed evaluation time over the 1m mean series;
# the oracle uses the window formulation (row_number DESC = 1), the
# engine the aggregate one (max_by) — same relation, two strategies
_ASOF_SNAPSHOT_SQL = f"""
WITH {_EV_T1M},
r AS (
    SELECT conv_id, bucket_start, mean_v,
           row_number() OVER (PARTITION BY conv_id
                              ORDER BY bucket_start DESC) AS rn
    FROM t1m WHERE bucket_start <= TIMESTAMP '2024-01-20 12:00:00'
)
SELECT conv_id, bucket_start, round(mean_v, 4) AS mean_v
FROM r WHERE rn = 1
"""

_BURSTINESS_SQL = """
WITH pts AS (
    SELECT CAST(user_id AS VARCHAR) AS conv_id, event_id, ts FROM events
),
g AS (
    SELECT conv_id, date_trunc('day', ts) AS bucket_start,
           (epoch_us(ts) - lag(epoch_us(ts)) OVER w) / 1e6 AS gap
    FROM pts WINDOW w AS (PARTITION BY conv_id ORDER BY ts, event_id)
)
SELECT conv_id, bucket_start,
       count(gap) AS n_gaps,
       round(avg(gap), 4) AS mean_gap_s,
       round(CASE WHEN avg(gap) > 0
                  THEN stddev_pop(gap) / avg(gap) END, 4) AS cv,
       round(CASE WHEN stddev_pop(gap) + avg(gap) > 0
                  THEN (stddev_pop(gap) - avg(gap))
                       / (stddev_pop(gap) + avg(gap)) END, 4)
           AS burstiness
FROM g GROUP BY 1, 2
"""


def benford_dq(events: DataFrame, key: str = "event_type",
               value_col: str = "value") -> DataFrame:
    """Benford first-significant-digit audit per key: one row per
    (key, digit 1..9) with observed count/share, the Benford
    expectation log10(1+1/d), and the key's chi-square statistic —
    the forensic DQ screen for fabricated / truncated / clipped
    metric feeds (organically-generated magnitudes spanning decades
    follow Benford; a capped sensor, a default-filled column, or
    synthetic padding shows up as a digit-histogram bend long before
    any distribution test on the values themselves).

    Digit extraction is INTEGER-EXACT and engine-portable: rows with
    |value| ≥ 1 only, first char of the decimal string of
    floor(|value|) — never ``floor(log10)``, whose libm last-ulp at
    exact powers of 10 can flip digit 1 to 9 between engines.
    (Sub-1 magnitudes need value-dependent rescaling to reach their
    first significant digit; excluding them keeps the audit exact —
    standard practice is auditing ≥1 populations anyway.)

    Zero-count digits are zero-FILLED (keys × 1..9 spine) — a chi2
    over only observed digits would understate exactly the
    pathologies this screen hunts (a feed that never produces digit
    9). Shape: ONE map-side-combined (key, digit) groupBy on the
    corpus; the spine fill, share window, and chi2 rollup all run on
    the ≤ 9·|keys| relation.
    """
    v = F.abs(F.col(value_col).cast("double"))
    digits = (
        events.where(F.col(value_col).isNotNull() & (v >= 1))
        .select(F.col(key),
                F.substring(F.floor(v).cast("long").cast("string"), 1, 1)
                .cast("int").alias("digit"))
        .groupBy(key, "digit")
        .agg(F.count(F.lit(1)).alias("n_d"))
    )
    spine = (digits.select(key).distinct()
             .crossJoin(F.broadcast(
                 events.sparkSession.range(1, 10)
                 .select(F.col("id").cast("int").alias("digit")))))
    filled = spine.join(digits, [key, "digit"], "left").select(
        key, "digit", F.coalesce(F.col("n_d"), F.lit(0)).alias("n_d"))
    wk = W.partitionBy(key)
    exp_arr = F.array(*[F.lit(math.log10(1.0 + 1.0 / dd))
                        for dd in range(1, 10)])
    staged = filled.select(
        key, "digit", "n_d",
        F.sum("n_d").over(wk).alias("n"),
        F.element_at(exp_arr, F.col("digit")).alias("_exp"),
    )
    chi_term = ((F.col("n_d") - F.col("n") * F.col("_exp")) ** 2
                / (F.col("n") * F.col("_exp")))
    return staged.select(
        key, "digit", "n_d",
        portable_round(
            F.col("n_d") / F.col("n").cast("double"), _R).alias("share"),
        portable_round(F.col("_exp"), _R).alias("expected"),
        portable_round(F.sum(chi_term).over(wk), _R).alias("chi2"),
    )


_BENFORD_EXP = ", ".join(
    repr(math.log10(1.0 + 1.0 / dd)) for dd in range(1, 10))

_BENFORD_SQL = f"""
WITH d AS (
    SELECT event_type,
           CAST(substr(CAST(CAST(floor(abs(CAST(value AS DOUBLE)))
                                 AS BIGINT) AS VARCHAR), 1, 1) AS INT)
               AS digit,
           count(*) AS n_d
    FROM events
    WHERE value IS NOT NULL AND abs(CAST(value AS DOUBLE)) >= 1
    GROUP BY 1, 2
),
spine AS (
    SELECT event_type, digit
    FROM (SELECT DISTINCT event_type FROM d)
    CROSS JOIN (SELECT unnest(range(1, 10)) AS digit)
),
f AS (
    SELECT s.event_type, s.digit,
           CAST(COALESCE(d.n_d, 0) AS BIGINT) AS n_d,
           ([{_BENFORD_EXP}])[s.digit] AS expected
    FROM spine s LEFT JOIN d USING (event_type, digit)
),
g AS (
    SELECT event_type, digit, n_d, expected,
           sum(n_d) OVER (PARTITION BY event_type) AS n
    FROM f
)
SELECT event_type, digit, n_d,
       round(CAST(n_d AS DOUBLE) / CAST(n AS DOUBLE), 4) AS share,
       round(expected, 4) AS expected,
       round(sum(pow(n_d - n * expected, 2)
                 / (n * expected)) OVER w, 4) AS chi2
FROM g
WINDOW w AS (PARTITION BY event_type)
"""


def apdex(events: DataFrame, t_sat: float = 50.0,
          bucket_seconds: int = 3600, key: str = "event_type",
          ts_col: str = "ts", value_col: str = "value") -> DataFrame:
    """Apdex score per (key, bucket): the SLA-attainment index ops
    dashboards standardize on (Apdex Alliance spec) — satisfied
    (value ≤ T), tolerating (T < value ≤ 4T), frustrated (> 4T);
    ``apdex = (n_sat + n_tol/2) / n`` ∈ [0, 1].

    The single-number complement to :func:`~.sessions.value_percentiles`:
    percentiles answer "how slow is the tail", Apdex answers "what
    share of requests met the target" — robust to outlier magnitude
    by construction. NULL values are a missed measurement, excluded.

    Shape: ONE map-side-combined (key, bucket) groupBy on the corpus
    — conditional sums fold in the combiner; no window, no join."""
    v = F.col(value_col).cast("double")
    sat = (v <= t_sat).cast("long")
    tol = ((v > t_sat) & (v <= 4.0 * t_sat)).cast("long")
    return (
        events.where(v.isNotNull())
        .groupBy(F.col(key), _bucket_expr(ts_col, int(bucket_seconds))
                 .alias("bucket_start"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(sat).alias("n_sat"),
            F.sum(tol).alias("n_tol"),
        )
        .select(
            key, "bucket_start", "n", "n_sat", "n_tol",
            portable_round(
                (F.col("n_sat") + F.col("n_tol") / F.lit(2.0))
                / F.col("n").cast("double"), _R).alias("apdex"),
        )
    )


def _apdex_sql(t_sat: float) -> str:
    t = repr(float(t_sat))
    return f"""
SELECT event_type, date_trunc('hour', ts) AS bucket_start,
       count(*) AS n,
       CAST(sum(CASE WHEN CAST(value AS DOUBLE) <= {t}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_sat,
       CAST(sum(CASE WHEN CAST(value AS DOUBLE) > {t}
                      AND CAST(value AS DOUBLE) <= 4.0 * {t}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_tol,
       round((sum(CASE WHEN CAST(value AS DOUBLE) <= {t}
                       THEN 1 ELSE 0 END)
              + sum(CASE WHEN CAST(value AS DOUBLE) > {t}
                          AND CAST(value AS DOUBLE) <= 4.0 * {t}
                         THEN 1 ELSE 0 END) / 2.0)
             / CAST(count(*) AS DOUBLE), 4) AS apdex
FROM events
WHERE value IS NOT NULL
GROUP BY 1, 2
"""


XCORR_METRICS = ("click", "error", "purchase", "signup", "view")

ORACLE_SQL = {
    "mad_flags": _MAD_SQL,
    "counter_rate_1m": _COUNTER_RATE_SQL,
    "turn_taking": _TURN_TAKING_SQL,
    "time_weighted_1h": _TWA_SQL,
    "holt_1m": _HOLT_SQL,
    "kalman_1m": _KALMAN_SQL,
    "hampel_1m": _HAMPEL_SQL,
    "ewma_chart_1m": _EWMA_CHART_SQL,
    "ar2_flags": _AR2_SQL,
    "candles_1h": _CANDLES_SQL,
    "m4_1h": _M4_SQL,
    "changepoint_flags": _CHANGEPOINT_SQL.format(base=_EV_T1M),
    "snaive_eval": _SNAIVE_SQL.format(base=_EV_T1M),
    "holt_winters_1m": _holt_winters_sql().format(base=_EV_T1M),
    "psi_drift_1d": _psi_sql(HIST_BOUNDARIES),
    "ks_drift_1d": _ks_sql(),
    "rate_5m": _rate_range_sql(300),
    "sax_discords": _sax_discords_sql(2, 4),
    "seasonal_zscore": _SEASONAL_SQL,
    "stl_lite_1m": _STL_SQL.format(base=_EV_T1M),
    "season_strength": _SEASON_STRENGTH_SQL.format(base=_EV_T1M),
    "lttb_check": _LTTB_CHECK_SQL.format(base=_EV_T1M),
    "cusum_flags": _CUSUM_SQL,
    "hist_quantile_1d": _hist_quantile_sql(0.95, HIST_BOUNDARIES),
    "alert_states": _ALERT_SQL,
    "xcorr_1d": _metric_corr_sql(XCORR_METRICS),
    "trend_1d": _TREND_SQL,
    "ensemble_flags": _ENSEMBLE_SQL,
    "dq_checks_1d": _DQ_SQL,
    "burstiness_1d": _BURSTINESS_SQL,
    "asof_snapshot": _ASOF_SNAPSHOT_SQL,
    "acf_1d": _ACF_SQL,
    "pacf_1d": _PACF_SQL,
    "theilsen_1d": _THEILSEN_SQL,
    "spectral_power": _SPECTRAL_SQL,
    "sax_1h": _sax_sql(4, 4),
    # 2 half-hour frames: the synthetic series are sparse (most
    # (conv, hour) populate one 15-min frame), so 4-frame-complete
    # words would be a zero-row gate; 2-frame words carry signal
    "sax_motifs": _sax_motifs_sql(20, 2, 4),
    "sigma_clip_1d": _sigma_clip_sql(3.0, 2),
    "leadlag_1h": _leadlag_sql(XCORR_METRICS, 3),
    "ddsketch_1d": _ddsketch_sql(),
    "benford_dq": _BENFORD_SQL,
    "apdex_1h": _apdex_sql(50.0),
    "fleet_outliers": _FLEET_SQL,
}


def pot_tail(events: DataFrame, q: float = 0.001, u_q: float = 0.95,
             key: str = "event_type",
             value_col: str = "value") -> DataFrame:
    """Peaks-over-threshold extreme-value tail model per series:
    fit a generalized Pareto distribution (GPD) to the exceedances
    over the per-series ``u_q`` quantile by method of moments, derive
    the extreme quantile ``z_q`` at tail probability ``q``, and count
    how many observed points breach it — the SPOT-style EVT detector
    (Siffer et al., KDD 2017) that extends the reference's fixed
    mean/std envelope (/root/reference/StatsTesting/arma_anm_detc.py:62)
    to tail probabilities far beyond the observed range.

    MoM GPD on exceedances e = v − t (t = u_q quantile, mean m,
    population variance s²):  ξ = ½(1 − m²/s²),
    σ = ½m(1 + m²/s²),  z_q = t + (σ/ξ)·((n·q/n_exc)^(−ξ) − 1).
    Series with n_exc < 2, s² ≤ 0 or |ξ| < 1e-12 yield NULL model
    columns (both engines apply the identical guard).

    Output: (event_type, n, n_exc, thresh, xi, sigma, z_q, n_above)
    — floats rounded to 4, one row per series key.

    Scale shape: three passes over the raw relation, each a
    map-side-combined aggregate on the series key (the quantile pass
    is exact-percentile — swap ``approx_percentile`` at 100 TB per
    :func:`yahoo_anomaly_detection_spark.operators.sessions.value_percentiles`);
    the per-key model relation (one row per key) BROADCASTS back for
    the exceedance and breach passes, so the raw relation never
    shuffles. At scale, materialize the exceedance rows once
    (~(1−u_q)·N rows) and run both the moment pass and the breach
    count over that small relation — the breach set is a subset of
    the exceedances whenever z_q > t, which holds for
    q < n_exc/n (here 0.001 < 0.05).
    """
    v = F.col(value_col)
    thr = events.groupBy(key).agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(f"percentile({value_col}, {u_q})").alias("t"),
    )
    exc = (events.join(F.broadcast(thr), key)
           .where(v > F.col("t"))
           .groupBy(key)
           .agg(F.count(F.lit(1)).alias("n_exc"),
                F.avg(v - F.col("t")).alias("m"),
                F.var_pop(v - F.col("t")).alias("s2")))
    m, s2 = F.col("m"), F.col("s2")
    xi = F.lit(0.5) * (F.lit(1.0) - m * m / s2)
    sigma = F.lit(0.5) * m * (F.lit(1.0) + m * m / s2)
    ok = (F.col("n_exc") >= 2) & (s2 > 0)
    gpd = (thr.join(F.broadcast(exc), key, "left")
           .withColumn("xi_raw", F.when(ok, xi))
           .withColumn("ok2",
                       ok & (F.abs(F.col("xi_raw")) > F.lit(1e-12)))
           .select(
               key, "n", "n_exc", "t",
               F.when(F.col("ok2"), F.col("xi_raw")).alias("xi_u"),
               F.when(F.col("ok2"), sigma).alias("sigma_u"),
               F.when(
                   F.col("ok2"),
                   F.col("t") + sigma / F.col("xi_raw")
                   * (F.pow(F.col("n") * F.lit(q) / F.col("n_exc"),
                            -F.col("xi_raw")) - F.lit(1.0)),
               ).alias("z_u"),
           ))
    above = (events.join(F.broadcast(gpd.select(key, "z_u")), key)
             .where(v > F.col("z_u"))
             .groupBy(key)
             .agg(F.count(F.lit(1)).alias("n_above")))
    return (gpd.join(F.broadcast(above), key, "left")
            .select(
                key, "n", "n_exc",
                portable_round(F.col("t"), _R).alias("thresh"),
                portable_round(F.col("xi_u"), _R).alias("xi"),
                portable_round(F.col("sigma_u"), _R).alias("sigma"),
                portable_round(F.col("z_u"), _R).alias("z_q"),
                F.when(F.col("z_u").isNotNull(),
                       F.coalesce(F.col("n_above"), F.lit(0)))
                .alias("n_above"),
            ))


def _pot_sql(q: float = 0.001, u_q: float = 0.95) -> str:
    return f"""
WITH thr AS (
    SELECT event_type, count(*) AS n,
           quantile_cont(value, {u_q}) AS t
    FROM events GROUP BY 1
),
exc AS (
    SELECT e.event_type, count(*) AS n_exc,
           avg(e.value - thr.t) AS m,
           var_pop(e.value - thr.t) AS s2
    FROM events e JOIN thr USING (event_type)
    WHERE e.value > thr.t
    GROUP BY 1
),
gpd AS (
    SELECT thr.event_type, thr.n, exc.n_exc, thr.t,
           CASE WHEN exc.n_exc >= 2 AND exc.s2 > 0
                     AND abs(0.5 * (1.0 - exc.m*exc.m/exc.s2)) > 1e-12
                THEN 0.5 * (1.0 - exc.m*exc.m/exc.s2) END AS xi_u,
           CASE WHEN exc.n_exc >= 2 AND exc.s2 > 0
                     AND abs(0.5 * (1.0 - exc.m*exc.m/exc.s2)) > 1e-12
                THEN 0.5 * exc.m * (1.0 + exc.m*exc.m/exc.s2) END
               AS sigma_u
    FROM thr LEFT JOIN exc USING (event_type)
),
gz AS (
    SELECT *,
           t + sigma_u / xi_u
             * (power(n * {q} / n_exc, -xi_u) - 1.0) AS z_u
    FROM gpd
),
above AS (
    SELECT e.event_type, count(*) AS n_above
    FROM events e JOIN gz USING (event_type)
    WHERE e.value > gz.z_u
    GROUP BY 1
)
SELECT gz.event_type, gz.n, gz.n_exc,
       round(gz.t, 4) AS thresh,
       round(gz.xi_u, 4) AS xi,
       round(gz.sigma_u, 4) AS sigma,
       round(gz.z_u, 4) AS z_q,
       CASE WHEN gz.z_u IS NOT NULL
            THEN coalesce(above.n_above, 0) END AS n_above
FROM gz LEFT JOIN above USING (event_type)
"""


ORACLE_SQL["pot_tail"] = _pot_sql()


def shesd_flags(events: DataFrame, k: float = 3.0, rounds: int = 2,
                key: str = "event_type", ts_col: str = "ts",
                value_col: str = "value",
                id_col: str = "event_id") -> DataFrame:
    """Seasonal-hybrid ESD-style detector (the Twitter
    AnomalyDetection recipe, Hochenbaum et al. 2017, over the same
    Yahoo-S5-style series as the reference's z-score envelope):
    subtract the per-(series, hour-of-day) seasonal MEDIAN, then run
    ``rounds`` of masking-aware robust clipping on the residuals —
    each round recomputes the survivor median and MAD per
    (series, day) and flags |residual − med| > k·1.4826·MAD. Median/
    MAD instead of mean/std resists the masking that motivates ESD:
    one giant spike cannot inflate the scale estimate and hide its
    neighbors (fixed-k rounds in place of the t-distribution critical
    values — the iterative-trimming structure is the detector;
    ``sigma_clip`` is the mean/std cousin).

    Output: (event_type, event_id, bucket_start, resid, clipped_round
    0=never, z_last, flag) — residuals and z rounded to 4.

    Scale shape: the ≤(|series|·24)-row seasonal-median relation
    comes from one map-side grouped aggregate and BROADCASTS back;
    every clipping round is two chained Window phases (median, then
    MAD of deviations) over the same (series, day) partition — all
    ``2·rounds`` phases pipeline onto ONE hash exchange, and per-task
    input is one series-day, bounded regardless of total history.
    z comparisons use the ROUNDED z (both engines make the same
    boundary call); MAD = 0 leaves the group's survivors unflagged
    via try_divide's NULL.
    """
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    v = F.col(value_col).cast("double")
    pts = events.where(v.isNotNull()).select(
        F.col(key), F.col(id_col),
        F.hour(ts_col).alias("_phase"),
        F.date_trunc("day", F.col(ts_col)).alias("bucket_start"),
        v.alias("_v"),
    )
    seas = pts.groupBy(key, "_phase").agg(
        F.percentile("_v", F.lit(0.5)).alias("_smed"))
    df = (pts.join(F.broadcast(seas), [key, "_phase"])
          .withColumn("_r", F.col("_v") - F.col("_smed")))
    win = W.partitionBy(key, "bucket_start")
    clipped = F.lit(0)
    z = F.lit(None).cast("double")
    for r in range(1, rounds + 1):
        keep = clipped == 0
        df = df.withColumn(
            f"_m{r}",
            F.percentile(F.when(keep, F.col("_r")), F.lit(0.5))
            .over(win))
        mad = F.percentile(
            F.when(keep, F.abs(F.col("_r") - F.col(f"_m{r}"))),
            F.lit(0.5)).over(win)
        zr = portable_round(
            F.try_divide(F.abs(F.col("_r") - F.col(f"_m{r}")),
                         mad * F.lit(MAD_SIGMA)), _R)
        hit = keep & (zr > F.lit(k))
        df = df.select(
            "*",
            F.when(hit, F.lit(r)).otherwise(clipped).alias(f"_c{r}"),
            F.when(keep, zr).otherwise(z).alias(f"_z{r}"),
        )
        clipped = F.col(f"_c{r}")
        z = F.col(f"_z{r}")
    return df.select(
        key, id_col, "bucket_start",
        portable_round(F.col("_r"), _R).alias("resid"),
        clipped.cast("int").alias("clipped_round"),
        z.alias("z_last"),
        (clipped > 0).cast("int").alias("flag"),
    )


def _shesd_sql(k: float = 3.0, rounds: int = 2) -> str:
    body = """
pts AS (
    SELECT event_type, event_id,
           CAST(hour(ts) AS INT) AS phase,
           date_trunc('day', ts) AS bucket_start,
           CAST(value AS DOUBLE) AS v
    FROM events WHERE value IS NOT NULL
),
seas AS (
    SELECT event_type, phase, quantile_cont(v, 0.5) AS smed
    FROM pts GROUP BY 1, 2
),
r0 AS (
    SELECT pts.event_type, pts.event_id, pts.bucket_start,
           pts.v - seas.smed AS res,
           0 AS clipped_round, CAST(NULL AS DOUBLE) AS z
    FROM pts JOIN seas USING (event_type, phase)
)"""
    for r in range(1, rounds + 1):
        body += f""",
r{r} AS (
    SELECT event_type, event_id, bucket_start, res,
           CASE WHEN clipped_round = 0 AND zz > {k}
                THEN {r} ELSE clipped_round END AS clipped_round,
           CASE WHEN clipped_round = 0 THEN zz ELSE z END AS z
    FROM (
        SELECT *,
               round(abs(res - med)
                     / (quantile_cont(
                            CASE WHEN clipped_round = 0
                                 THEN abs(res - med) END, 0.5)
                        OVER w * {MAD_SIGMA}), 4) AS zz
        FROM (
            SELECT *,
                   quantile_cont(CASE WHEN clipped_round = 0
                                      THEN res END, 0.5)
                       OVER (PARTITION BY event_type, bucket_start)
                       AS med
            FROM r{r - 1}
        )
        WINDOW w AS (PARTITION BY event_type, bucket_start)
    )
)"""
    return f"""
WITH {body}
SELECT event_type, event_id, bucket_start,
       round(res, 4) AS resid,
       CAST(clipped_round AS INT) AS clipped_round,
       z AS z_last,
       CAST(clipped_round > 0 AS INT) AS flag
FROM r{rounds}
"""


ORACLE_SQL["shesd_flags"] = _shesd_sql()


def did_impact(events: DataFrame, key: str = "event_type",
               ts_col: str = "ts",
               value_col: str = "value") -> DataFrame:
    """Difference-in-differences release-impact estimate per series:
    split the corpus at its temporal midpoint and, treating each
    series as the "treated" group in turn with ALL OTHER series as
    its control, report DiD = (post_t − pre_t) − (post_c − pre_c) —
    the standard product-analytics answer to "did the metric move
    MORE than the fleet moved" that a naive pre/post delta (which
    absorbs fleet-wide drift) gets wrong.

    Output: (event_type, pre_n, post_n, pre_mean, post_mean, did),
    floats rounded to 4; series lacking pre or post data yield NULL
    means/did on both engines.

    Scale shape: one tiny min/max bounds aggregate broadcast back,
    then ONE map-side-combined conditional aggregate per series; the
    control-side sums come from an empty-partition window over the
    |series|-row relation (global − treated), never a second corpus
    pass for each series — the whole estimate costs two corpus scans
    total, independent of |series|.
    """
    v = F.col(value_col).cast("double")
    # NTZ-safe epoch: session TZ is UTC, so the ltz cast is identity
    us = lambda c: F.unix_micros(c.cast("timestamp"))  # noqa: E731
    bounds = events.agg(
        F.min(ts_col).alias("t0"), F.max(ts_col).alias("t1"))
    cut = (us(F.col("t0"))
           + (us(F.col("t1")) - us(F.col("t0"))) / 2)
    tagged = (events.crossJoin(F.broadcast(bounds))
              .withColumn("_post",
                          (us(F.col(ts_col)) >= cut).cast("int")))
    per = tagged.groupBy(key).agg(
        F.sum(F.when(F.col("_post") == 0, F.lit(1)).otherwise(0))
        .alias("pre_n"),
        F.sum("_post").cast("long").alias("post_n"),
        F.sum(F.when(F.col("_post") == 0, v)).alias("pre_s"),
        F.sum(F.when(F.col("_post") == 1, v)).alias("post_s"),
    )
    wall = W.partitionBy()
    g_pre_n = F.sum("pre_n").over(wall)
    g_post_n = F.sum("post_n").over(wall)
    g_pre_s = F.sum("pre_s").over(wall)
    g_post_s = F.sum("post_s").over(wall)
    pre_mean = F.try_divide(F.col("pre_s"), F.col("pre_n"))
    post_mean = F.try_divide(F.col("post_s"), F.col("post_n"))
    c_pre = F.try_divide(g_pre_s - F.col("pre_s"),
                         (g_pre_n - F.col("pre_n")).cast("double"))
    c_post = F.try_divide(g_post_s - F.col("post_s"),
                          (g_post_n - F.col("post_n")).cast("double"))
    return per.select(
        key,
        F.col("pre_n").cast("long").alias("pre_n"), "post_n",
        portable_round(pre_mean, _R).alias("pre_mean"),
        portable_round(post_mean, _R).alias("post_mean"),
        portable_round((post_mean - pre_mean) - (c_post - c_pre),
                       _R).alias("did"),
    )


_DID_SQL = """
WITH b AS (
    SELECT epoch_us(min(ts))
           + (epoch_us(max(ts)) - epoch_us(min(ts))) / 2.0 AS cut
    FROM events
),
t AS (
    SELECT event_type,
           CASE WHEN epoch_us(ts) >= b.cut THEN 1 ELSE 0 END AS post,
           CAST(value AS DOUBLE) AS v
    FROM events, b
),
per AS (
    SELECT event_type,
           sum(CASE WHEN post = 0 THEN 1 ELSE 0 END) AS pre_n,
           sum(post) AS post_n,
           sum(CASE WHEN post = 0 THEN v END) AS pre_s,
           sum(CASE WHEN post = 1 THEN v END) AS post_s
    FROM t GROUP BY 1
),
g AS (
    SELECT *,
           sum(pre_n) OVER () AS g_pre_n,
           sum(post_n) OVER () AS g_post_n,
           sum(pre_s) OVER () AS g_pre_s,
           sum(post_s) OVER () AS g_post_s
    FROM per
)
SELECT event_type,
       CAST(pre_n AS BIGINT) AS pre_n,
       CAST(post_n AS BIGINT) AS post_n,
       round(pre_s / pre_n, 4) AS pre_mean,
       round(post_s / post_n, 4) AS post_mean,
       round((post_s / post_n - pre_s / pre_n)
             - ((g_post_s - post_s) / CAST(g_post_n - post_n AS DOUBLE)
                - (g_pre_s - pre_s) / CAST(g_pre_n - pre_n AS DOUBLE)),
             4) AS did
FROM g
"""


def dominant_period(events: DataFrame, max_lag: int = 24,
                    key: str = "event_type", ts_col: str = "ts",
                    value_col: str = "value") -> DataFrame:
    """Autoperiod detection per series: the lag (in hours, 1..max_lag)
    whose autocorrelation of the HOURLY mean series is highest — the
    ACF-argmax half of the AUTOPERIOD method (Vlachos et al.,
    SDM'05), answering "what seasonality should the seasonal
    detectors (``seasonal_zscore``, ``shesd_flags``, ``snaive_eval``)
    be configured with?". A 24h-periodic series returns 24.

    Output: (event_type, best_lag, best_corr) — corr rounded to 4,
    argmax on the ROUNDED corr with smallest-lag tie-break so both
    engines make the same call; constant series (corr undefined at
    every lag) emit no row.

    Scale shape: the corpus collapses to the hourly tier first (one
    map-side-combined groupBy); the lag grid (max_lag literal rows)
    cross-joins THAT tier relation and the shifted equi-join runs
    tier×lag vs tier — bounded by tier size, never raw rows. The
    per-(key, lag) corr is one more map-side-combined aggregate and
    the final argmax is a max_by over ≤max_lag rows per key.
    """
    if max_lag < 1:
        raise ValueError(f"max_lag must be >= 1, got {max_lag}")
    # an hour whose values are all NULL has a NULL mean; drop it so
    # the fit sees only pairs with both sides present, like DuckDB's
    # corr (an unmasked fit would center v over pairs whose v2 is NULL)
    hourly = (events.groupBy(
        F.col(key), F.date_trunc("hour", F.col(ts_col)).alias("b"))
        .agg(F.avg(F.col(value_col).cast("double")).alias("v"))
        .where(F.col("v").isNotNull()))
    lags = F.explode(
        F.sequence(F.lit(1), F.lit(int(max_lag)))).alias("lag")
    grid = (hourly.select(F.col(key).alias("kk"), "b", "v", lags)
            .withColumn(
                "b2", F.col("b")
                + F.expr("make_interval(0, 0, 0, 0, lag, 0, 0)")))
    shifted = hourly.select(
        F.col(key).alias("kk2"), F.col("b").alias("bs"),
        F.col("v").alias("v2"))
    joined = grid.join(
        shifted,
        (F.col("kk") == F.col("kk2")) & (F.col("bs") == F.col("b2")),
    ).select("kk", "lag", "v", "v2")
    mom = comoments(joined, ["kk", "lag"], PEARSON,
                    Fit({"x": F.col("v"), "y": F.col("v2")}))
    per_lag = (mom.select(
        "kk", "lag", portable_round(pearson(), _R).alias("c"))
        .where(F.col("c").isNotNull()))
    return (per_lag.groupBy(F.col("kk").alias(key))
            .agg(F.max_by(F.col("lag"),
                          F.struct(F.col("c"), -F.col("lag")))
                 .alias("best_lag"),
                 F.max("c").alias("best_corr")))


def _dominant_period_sql(max_lag: int = 24) -> str:
    return f"""
WITH hourly AS (
    SELECT event_type, date_trunc('hour', ts) AS b,
           avg(CAST(value AS DOUBLE)) AS v
    FROM events GROUP BY 1, 2
),
per_lag AS (
    SELECT h.event_type, l.lag, round(corr(h.v, s.v), 4) AS c
    FROM hourly h
    CROSS JOIN (SELECT unnest(range(1, {max_lag} + 1)) AS lag) l
    JOIN hourly s
      ON s.event_type = h.event_type
     AND s.b = h.b + to_hours(l.lag)
    GROUP BY 1, 2
    HAVING round(corr(h.v, s.v), 4) IS NOT NULL
),
ranked AS (
    SELECT event_type, lag, c,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY c DESC, lag ASC) AS rn
    FROM per_lag
)
SELECT event_type, CAST(lag AS BIGINT) AS best_lag, c AS best_corr
FROM ranked WHERE rn = 1
"""


ORACLE_SQL["did_impact"] = _DID_SQL
ORACLE_SQL["dominant_period"] = _dominant_period_sql()


def weekend_effect(events: DataFrame, key: str = "event_type",
                   ts_col: str = "ts", value_col: str = "value",
                   t_crit: float = 2.0) -> DataFrame:
    """Welch two-sample t-test of weekend vs weekday values per
    series: t = (m_we − m_wd)/sqrt(s²_we/n_we + s²_wd/n_wd) with
    Welch–Satterthwaite dof — the parametric mean-shift counterpart
    of ``ks_drift_1d``'s distribution test, answering "does this
    metric run HOTTER on weekends" with a significance-scaled number
    instead of a raw delta (a calendar-effect check that prevents
    weekday-trained thresholds from paging all weekend).

    Output: (event_type, n_wd, n_we, mean_wd, mean_we, t_stat, dof,
    significant) — floats rounded to 4; a side with n < 2 or both
    variances 0 yields NULL t/dof/flag on both engines. ``dayofweek``
    is engine-portable via the date arithmetic idiom (both engines
    agree ISO Monday=1 via ``isoweekday``-style extraction).

    Scale shape: ONE map-side-combined conditional-moment aggregate
    per series — six sums fold in the combiner; nothing else touches
    the corpus.
    """
    v = F.col(value_col).cast("double")
    # ISO weekday 1..7 (Mon..Sun): weekday(ts) in Spark is 0=Mon
    is_we = (F.weekday(F.col(ts_col)) >= 5).cast("int")
    grp = events.groupBy(key).agg(
        F.sum(F.lit(1) - is_we).cast("long").alias("n_wd"),
        F.sum(is_we).cast("long").alias("n_we"),
        F.sum(F.when(is_we == 0, v)).alias("s_wd"),
        F.sum(F.when(is_we == 1, v)).alias("s_we"),
        F.sum(F.when(is_we == 0, v * v)).alias("q_wd"),
        F.sum(F.when(is_we == 1, v * v)).alias("q_we"),
    )
    n1, n2 = F.col("n_wd").cast("double"), F.col("n_we").cast("double")
    m1 = F.col("s_wd") / n1
    m2 = F.col("s_we") / n2
    # unbiased sample variance from raw moments
    v1 = (F.col("q_wd") - n1 * m1 * m1) / (n1 - 1)
    v2 = (F.col("q_we") - n2 * m2 * m2) / (n2 - 1)
    se2 = v1 / n1 + v2 / n2
    ok = (F.col("n_wd") >= 2) & (F.col("n_we") >= 2) & (se2 > 0)
    t = F.when(ok, (m2 - m1) / F.sqrt(se2))
    dof = F.when(ok, se2 * se2 / (
        (v1 / n1) * (v1 / n1) / (n1 - 1)
        + (v2 / n2) * (v2 / n2) / (n2 - 1)))
    return grp.select(
        key, "n_wd", "n_we",
        portable_round(m1, _R).alias("mean_wd"),
        portable_round(m2, _R).alias("mean_we"),
        portable_round(t, _R).alias("t_stat"),
        portable_round(dof, _R).alias("dof"),
        F.when(ok, (F.abs(portable_round(t, _R)) > F.lit(t_crit))
               .cast("int")).alias("significant"),
    )


def _weekend_sql(t_crit: float = 2.0) -> str:
    return f"""
WITH g AS (
    SELECT event_type,
           sum(CASE WHEN isodow(ts) >= 6 THEN 0 ELSE 1 END) AS n_wd,
           sum(CASE WHEN isodow(ts) >= 6 THEN 1 ELSE 0 END) AS n_we,
           sum(CASE WHEN isodow(ts) < 6 THEN CAST(value AS DOUBLE) END)
               AS s_wd,
           sum(CASE WHEN isodow(ts) >= 6 THEN CAST(value AS DOUBLE) END)
               AS s_we,
           sum(CASE WHEN isodow(ts) < 6
                    THEN CAST(value AS DOUBLE) * value END) AS q_wd,
           sum(CASE WHEN isodow(ts) >= 6
                    THEN CAST(value AS DOUBLE) * value END) AS q_we
    FROM events GROUP BY 1
),
m AS (
    SELECT event_type, n_wd, n_we,
           s_wd / n_wd AS m1, s_we / n_we AS m2,
           (q_wd - n_wd * (s_wd / n_wd) * (s_wd / n_wd))
               / (n_wd - 1) AS v1,
           (q_we - n_we * (s_we / n_we) * (s_we / n_we))
               / (n_we - 1) AS v2
    FROM g
),
w AS (
    SELECT *,
           v1 / n_wd + v2 / n_we AS se2,
           (n_wd >= 2 AND n_we >= 2 AND v1 / n_wd + v2 / n_we > 0)
               AS ok
    FROM m
)
SELECT event_type,
       CAST(n_wd AS BIGINT) AS n_wd, CAST(n_we AS BIGINT) AS n_we,
       round(m1, 4) AS mean_wd, round(m2, 4) AS mean_we,
       CASE WHEN ok THEN round((m2 - m1) / sqrt(se2), 4) END AS t_stat,
       CASE WHEN ok THEN round(se2 * se2 /
            ((v1 / n_wd) * (v1 / n_wd) / (n_wd - 1)
             + (v2 / n_we) * (v2 / n_we) / (n_we - 1)), 4) END AS dof,
       CASE WHEN ok THEN
            CAST(abs(round((m2 - m1) / sqrt(se2), 4)) > {t_crit}
                 AS INT) END AS significant
FROM w
"""


ORACLE_SQL["weekend_effect"] = _weekend_sql()


def change_attribution(events: DataFrame, key: str = "event_type",
                       ts_col: str = "ts",
                       value_col: str = "value") -> DataFrame:
    """Root-cause attribution of an aggregate change across a
    dimension — the Adtributor decomposition (Bhagwan et al.,
    NSDI'14): split the corpus at its temporal midpoint and report,
    per segment, the EXPLANATORY POWER (its share of the total
    metric delta, ``ep = Δ_seg / Δ_total``) and the SURPRISE (the
    Jensen–Shannon term between the segment's pre and post share of
    the metric) — "the fleet total moved; WHICH segment did it". A
    segment with high surprise but low EP changed shape without
    moving the total; high EP + high surprise is the page-worthy
    root cause.

    Output: (event_type, pre_sum, post_sum, ep, surprise) — floats
    rounded to 4; ep is NULL when the total delta is 0 (try_divide),
    zero-mass JS terms contribute 0 by convention.

    Scale shape: identical cost to :func:`did_impact` — one tiny
    bounds aggregate broadcast back, ONE map-side-combined
    conditional aggregate per segment, totals from an
    empty-partition window over the |segments| relation. Two corpus
    scans total, independent of |segments|.
    """
    v = F.col(value_col).cast("double")
    us = lambda c: F.unix_micros(c.cast("timestamp"))  # noqa: E731
    bounds = events.agg(
        F.min(ts_col).alias("t0"), F.max(ts_col).alias("t1"))
    cut = (us(F.col("t0"))
           + (us(F.col("t1")) - us(F.col("t0"))) / 2)
    tagged = (events.crossJoin(F.broadcast(bounds))
              .withColumn("_post",
                          (us(F.col(ts_col)) >= cut).cast("int")))
    per = tagged.groupBy(key).agg(
        F.sum(F.when(F.col("_post") == 0, v)).alias("pre_s"),
        F.sum(F.when(F.col("_post") == 1, v)).alias("post_s"),
    )
    wall = W.partitionBy()
    g_pre = F.sum("pre_s").over(wall)
    g_post = F.sum("post_s").over(wall)
    ep = F.try_divide(F.col("post_s") - F.col("pre_s"), g_post - g_pre)
    p = F.try_divide(F.col("pre_s"), g_pre)
    q = F.try_divide(F.col("post_s"), g_post)

    def _js_term(x, y):
        return F.when(
            x > 0, x * F.log2(F.lit(2.0) * x / (x + y))
        ).otherwise(F.lit(0.0))

    js = F.lit(0.5) * (_js_term(p, q) + _js_term(q, p))
    return per.select(
        key,
        portable_round(F.col("pre_s"), _R).alias("pre_sum"),
        portable_round(F.col("post_s"), _R).alias("post_sum"),
        portable_round(ep, _R).alias("ep"),
        portable_round(js, _R).alias("surprise"),
    )


_ATTRIBUTION_SQL = """
WITH b AS (
    SELECT epoch_us(min(ts))
           + (epoch_us(max(ts)) - epoch_us(min(ts))) / 2.0 AS cut
    FROM events
),
per AS (
    SELECT event_type,
           sum(CASE WHEN epoch_us(ts) < b.cut
                    THEN CAST(value AS DOUBLE) END) AS pre_s,
           sum(CASE WHEN epoch_us(ts) >= b.cut
                    THEN CAST(value AS DOUBLE) END) AS post_s
    FROM events, b GROUP BY 1
),
g AS (
    SELECT *,
           sum(pre_s) OVER () AS g_pre,
           sum(post_s) OVER () AS g_post
    FROM per
),
sh AS (
    SELECT *,
           pre_s / g_pre AS p,
           post_s / g_post AS q
    FROM g
)
SELECT event_type,
       round(pre_s, 4) AS pre_sum,
       round(post_s, 4) AS post_sum,
       round((post_s - pre_s)
             / nullif(g_post - g_pre, 0), 4) AS ep,
       round(0.5 * (CASE WHEN p > 0
                         THEN p * log2(2.0 * p / (p + q))
                         ELSE 0.0 END
                    + CASE WHEN q > 0
                           THEN q * log2(2.0 * q / (p + q))
                           ELSE 0.0 END), 4) AS surprise
FROM sh
"""


ORACLE_SQL["change_attribution"] = _ATTRIBUTION_SQL


def fleet_beta(events: DataFrame, key: str = "event_type",
               ts_col: str = "ts",
               value_col: str = "value") -> DataFrame:
    """Cross-sectional factor regression: per series, OLS of the
    series' hourly mean on the FLEET hourly mean (all series) —
    beta > 1 amplifies fleet-wide load swings, beta ≈ 0 is
    idiosyncratic, and r² says how much of the series the fleet
    factor explains. The "market model" of observability: the first
    cut at separating systemic from service-local behavior
    (complements ``fleet_outliers``' cross-sectional envelope and
    ``xcorr_1d``'s pairwise correlations with a single fleet
    factor).

    Output: (event_type, n_buckets, beta, alpha, r2) — floats
    rounded to 4; a series with < 2 buckets or a zero-variance side
    yields NULL model columns on both engines.

    Scale shape: the corpus collapses to the hourly tier (ONE
    map-side-combined groupBy); the fleet factor is a second tiny
    aggregate of THAT tier joined back on the bucket (tier-sized
    hash join); the regression is one more map-side-combined moment
    aggregate per series. Raw rows shuffle once.
    """
    v = F.col(value_col).cast("double")
    hourly = (events.groupBy(
        F.col(key), F.date_trunc("hour", F.col(ts_col)).alias("b"))
        .agg(F.avg(v).alias("y")))
    fleet = hourly.groupBy("b").agg(F.avg("y").alias("x"))
    mom = comoments(hourly.join(fleet, "b"), [key], PEARSON,
                    Fit({"x": F.col("x"), "y": F.col("y")}), means=True)
    beta = ols_slope(2)
    alpha = F.col("my") - beta * F.col("mx")
    r2 = F.when(beta.isNotNull() & (F.col("syy") > 0),
                F.col("sxy") * F.col("sxy")
                / (F.col("sxx") * F.col("syy")))
    return mom.select(
        key, F.col("n").alias("n_buckets"),
        portable_round(beta, _R).alias("beta"),
        portable_round(alpha, _R).alias("alpha"),
        portable_round(r2, _R).alias("r2"),
    )


_FLEET_BETA_SQL = f"""
WITH hourly AS (
    SELECT event_type, date_trunc('hour', ts) AS b,
           avg(CAST(value AS DOUBLE)) AS y
    FROM events GROUP BY 1, 2
),
fleet AS (SELECT b, avg(y) AS x FROM hourly GROUP BY 1),
{comoments_sql("d", "hourly JOIN fleet USING (b)", ["event_type"],
               PEARSON, Fit({"x": "x", "y": "y"}), means=True)},
f AS (SELECT *, {ols_slope_sql(2)} AS beta FROM d)
SELECT event_type, n AS n_buckets,
       round(beta, 4) AS beta,
       round(my - beta * mx, 4) AS alpha,
       round(CASE WHEN beta IS NOT NULL AND syy > 0
                  THEN sxy * sxy / (sxx * syy) END, 4) AS r2
FROM f
"""


ORACLE_SQL["fleet_beta"] = _FLEET_BETA_SQL


def normality_check(events: DataFrame, key: str = "event_type",
                    value_col: str = "value",
                    jb_crit: float = 5.991) -> DataFrame:
    """Detector-assumption QC per series: skewness, excess kurtosis,
    and the Jarque–Bera statistic ``JB = n/6·(S² + K²/4)`` — the
    pre-check that says whether a mean/σ envelope (the reference's
    detector family, ``zscore_flags``) is even valid for this series
    or whether the robust/quantile detectors (``mad_flags``,
    ``pot_tail``) should run instead. ``normal_ok`` compares JB to
    the χ²(2) critical value (default 5.991 ≈ p=0.05).

    Moments are computed EXPLICITLY from Σv, Σv², Σv³, Σv⁴ rather
    than the built-in ``skewness``/``kurtosis`` — engines disagree on
    sample-vs-population bias correction (Spark population, DuckDB
    sample), and the raw-moment formula is the same everywhere.
    Zero-variance series yield NULLs on both engines.

    Output: (event_type, n, skew, kurt_excess, jb, normal_ok) —
    floats rounded to 4. Scale shape: ONE map-side-combined moment
    aggregate; nothing else touches the corpus.
    """
    v = F.col(value_col).cast("double")
    mom = events.groupBy(key).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(v).alias("s1"), F.sum(v * v).alias("s2"),
        F.sum(v * v * v).alias("s3"),
        F.sum(v * v * v * v).alias("s4"),
    )
    n = F.col("n")
    m = F.col("s1") / n
    m2 = F.col("s2") / n - m * m
    m3 = F.col("s3") / n - 3 * m * F.col("s2") / n + 2 * m * m * m
    m4 = (F.col("s4") / n - 4 * m * F.col("s3") / n
          + 6 * m * m * F.col("s2") / n - 3 * m * m * m * m)
    ok = (n >= 4) & (m2 > 0)
    skew = F.when(ok, m3 / F.pow(m2, 1.5))
    kurt = F.when(ok, m4 / (m2 * m2) - F.lit(3.0))
    jb = F.when(ok, n / 6 * (skew * skew + kurt * kurt / 4))
    return mom.select(
        key, n.cast("long").alias("n"),
        portable_round(skew, _R).alias("skew"),
        portable_round(kurt, _R).alias("kurt_excess"),
        portable_round(jb, _R).alias("jb"),
        F.when(ok, (portable_round(jb, _R) <= F.lit(jb_crit))
               .cast("int")).alias("normal_ok"),
    )


def _normality_sql(jb_crit: float = 5.991) -> str:
    return f"""
WITH m AS (
    SELECT event_type,
           CAST(count(*) AS DOUBLE) AS n,
           sum(CAST(value AS DOUBLE)) AS s1,
           sum(CAST(value AS DOUBLE) * value) AS s2,
           sum(CAST(value AS DOUBLE) * value * value) AS s3,
           sum(CAST(value AS DOUBLE) * value * value * value) AS s4
    FROM events GROUP BY 1
),
c AS (
    SELECT event_type, n,
           s1 / n AS mu,
           s2 / n - (s1 / n) * (s1 / n) AS m2,
           s3 / n - 3 * (s1 / n) * s2 / n
               + 2 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
           s4 / n - 4 * (s1 / n) * s3 / n
               + 6 * (s1 / n) * (s1 / n) * s2 / n
               - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
    FROM m
),
j AS (
    SELECT event_type, n,
           CASE WHEN n >= 4 AND m2 > 0
                THEN m3 / power(m2, 1.5) END AS skew,
           CASE WHEN n >= 4 AND m2 > 0
                THEN m4 / (m2 * m2) - 3.0 END AS kurt
    FROM c
)
SELECT event_type, CAST(n AS BIGINT) AS n,
       round(skew, 4) AS skew,
       round(kurt, 4) AS kurt_excess,
       round(n / 6 * (skew * skew + kurt * kurt / 4), 4) AS jb,
       CASE WHEN skew IS NOT NULL THEN
            CAST(round(n / 6 * (skew * skew + kurt * kurt / 4), 4)
                 <= {jb_crit} AS INT) END AS normal_ok
FROM j
"""


ORACLE_SQL["normality_check"] = _normality_sql()


def lateness_audit(events: DataFrame, key: str = "event_type",
                   ts_col: str = "ts", id_col: str = "event_id",
                   bucket_rows: int = 10_000) -> DataFrame:
    """Empirical out-of-orderness audit per stream — the data-driven
    answer to "how big should the watermark be": treating ``id_col``
    as arrival order, an event's LATENESS is how far its event time
    sits behind the running maximum event time already seen on the
    stream. The p99 of positive lateness IS the watermark delay that
    would admit 99% of late data (Spark's watermark semantics
    exactly); ``max_late_s`` is the loss-free bound.

    Output per key: (key, n, late_share, p50_late_s, p99_late_s,
    max_late_s) — share/quantiles over late (lateness > 0) events;
    all-ordered streams emit NULL quantiles.

    Scale shape: the running max is the LOW-CARDINALITY-KEY pattern
    done right (same two-phase formulation as ``sessions.asof_join``):
    phase 1 runs the prefix-max within (key, ``id_col div
    bucket_rows``) partitions — bounded per task — and phase 2
    broadcasts each bucket's carry-in (the cumulative max of all
    PRIOR buckets, a window over the tiny bucket-max relation) back;
    ``greatest(in-bucket running max, carry_in)`` equals the global
    prefix max. No key ever funnels its full history through one
    window task. Final rollup is one map-side-combined aggregate
    (quantiles exact — the usual ``approx_percentile`` swap at
    100 TB).
    """
    if bucket_rows < 1:
        raise ValueError(f"bucket_rows must be >= 1, got {bucket_rows}")
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    b = (F.col(id_col) / F.lit(bucket_rows)).cast("long")
    tagged = events.select(
        F.col(key), F.col(id_col), us.alias("_us"), b.alias("_b"))
    w_in = (W.partitionBy(key, "_b").orderBy(id_col)
            .rowsBetween(W.unboundedPreceding, 0))
    ph1 = tagged.withColumn("_runmax", F.max("_us").over(w_in))
    bmax = (tagged.groupBy(key, "_b")
            .agg(F.max("_us").alias("_bm")))
    w_carry = (W.partitionBy(key).orderBy("_b")
               .rowsBetween(W.unboundedPreceding, -1))
    carry = bmax.select(
        key, "_b", F.max("_bm").over(w_carry).alias("_carry"))
    joined = ph1.join(F.broadcast(carry), [key, "_b"])
    late = (F.greatest(F.col("_runmax"),
                       F.coalesce(F.col("_carry"), F.lit(0)))
            - F.col("_us")) / F.lit(1e6)
    scored = joined.select(F.col(key), late.alias("_late"))
    pos = F.when(F.col("_late") > 0, F.col("_late"))
    return scored.groupBy(key).agg(
        F.count(F.lit(1)).alias("n"),
        portable_round(
            F.avg((F.col("_late") > 0).cast("double")), _R)
        .alias("late_share"),
        portable_round(F.expr("percentile(" + (
            "CASE WHEN _late > 0 THEN _late END") + ", 0.5)"), _R)
        .alias("p50_late_s"),
        portable_round(F.expr("percentile(" + (
            "CASE WHEN _late > 0 THEN _late END") + ", 0.99)"), _R)
        .alias("p99_late_s"),
        portable_round(F.max(pos), _R).alias("max_late_s"),
    )


_LATENESS_SQL = """
WITH t AS (
    SELECT event_type, event_id, epoch_us(ts) AS us,
           max(epoch_us(ts)) OVER (
               PARTITION BY event_type ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS runmax
    FROM events
),
s AS (
    SELECT event_type, (runmax - us) / 1e6 AS late
    FROM t
)
SELECT event_type, count(*) AS n,
       round(avg(CASE WHEN late > 0 THEN 1.0 ELSE 0.0 END), 4)
           AS late_share,
       round(quantile_cont(CASE WHEN late > 0 THEN late END, 0.5), 4)
           AS p50_late_s,
       round(quantile_cont(CASE WHEN late > 0 THEN late END, 0.99), 4)
           AS p99_late_s,
       round(max(CASE WHEN late > 0 THEN late END), 4) AS max_late_s
FROM s GROUP BY 1
"""


ORACLE_SQL["lateness_audit"] = _LATENESS_SQL


def anomalous_days(events: DataFrame, k: float = 3.0,
                   key: str = "event_type", ts_col: str = "ts",
                   value_col: str = "value") -> DataFrame:
    """Day-LEVEL anomaly detection: score each (series, day) by how
    far its 24-hour mean profile sits from the series' typical
    profile for that WEEKDAY (root-mean-square deviation over the
    hours both sides cover), then flag days beyond k robust sigmas
    (median/MAD over the series' day scores). Finds the broken DAY —
    deploy gone wrong, collector outage, DST bug — that point-level
    detectors report as a blizzard of flags and daily means miss
    when errors cancel.

    Output: (event_type, day, rmsd, z, flag) — rmsd/z rounded to 4;
    a series whose day scores have MAD 0 flags nothing.

    Scale shape: raw rows collapse to the (series, day, hour) tier
    (ONE map-side-combined groupBy); the weekday-hour template is a
    second aggregate of THAT tier broadcast back; day scores are a
    third tier-sized aggregate, and the median/MAD pass runs per
    series over ≤ span-days rows. The corpus shuffles once.
    """
    day = F.date_trunc("day", F.col(ts_col))
    hourly = (events.groupBy(
        F.col(key), day.alias("day"),
        F.hour(ts_col).alias("hh"))
        .agg(F.avg(F.col(value_col).cast("double")).alias("v")))
    wd = F.weekday(F.col("day"))
    tmpl = (hourly.groupBy(key, wd.alias("wd"), "hh")
            .agg(F.avg("v").alias("m")))
    joined = hourly.withColumn("wd", wd).join(
        F.broadcast(tmpl), [key, "wd", "hh"])
    scores = (joined.groupBy(key, "day")
              .agg(F.sqrt(F.avg(F.pow(F.col("v") - F.col("m"), 2)))
                   .alias("rmsd")))
    win = W.partitionBy(key)
    med = F.percentile("rmsd", F.lit(0.5)).over(win)
    scored = scores.withColumn("_med", med)
    mad = F.percentile(F.abs(F.col("rmsd") - F.col("_med")),
                       F.lit(0.5)).over(win)
    z = portable_round(
        F.try_divide(F.abs(F.col("rmsd") - F.col("_med")),
                     mad * F.lit(MAD_SIGMA)), _R)
    return scored.select(
        key, "day",
        portable_round(F.col("rmsd"), _R).alias("rmsd"),
        z.alias("z"),
        F.coalesce((z > F.lit(k)).cast("int"), F.lit(0)).alias("flag"),
    )


def _anomalous_days_sql(k: float = 3.0) -> str:
    return f"""
WITH hourly AS (
    SELECT event_type, date_trunc('day', ts) AS day,
           CAST(hour(ts) AS INT) AS hh,
           avg(CAST(value AS DOUBLE)) AS v
    FROM events GROUP BY 1, 2, 3
),
tmpl AS (
    SELECT event_type, isodow(day) AS wd, hh, avg(v) AS m
    FROM hourly GROUP BY 1, 2, 3
),
sc AS (
    SELECT h.event_type, h.day,
           sqrt(avg((h.v - t.m) * (h.v - t.m))) AS rmsd
    FROM hourly h
    JOIN tmpl t ON t.event_type = h.event_type
               AND t.wd = isodow(h.day) AND t.hh = h.hh
    GROUP BY 1, 2
),
st AS (
    SELECT *,
           quantile_cont(rmsd, 0.5)
               OVER (PARTITION BY event_type) AS med
    FROM sc
),
zz AS (
    SELECT *,
           round(abs(rmsd - med)
                 / (quantile_cont(abs(rmsd - med), 0.5)
                        OVER (PARTITION BY event_type)
                    * {MAD_SIGMA}), 4) AS z
    FROM st
)
SELECT event_type, day, round(rmsd, 4) AS rmsd, z,
       CAST(coalesce(z > {k}, false) AS INT) AS flag
FROM zz
"""


ORACLE_SQL["anomalous_days"] = _anomalous_days_sql()


def capacity_forecast(events: DataFrame, threshold: float = 100.0,
                      horizon_days: float = 30.0,
                      key: str = "event_type", ts_col: str = "ts",
                      value_col: str = "value") -> DataFrame:
    """Capacity-planning ETA per series: fit the OLS trend of the
    DAILY mean and report when the fitted level crosses
    ``threshold`` — "days until this metric hits the limit", the
    page a capacity planner wants weeks before the breach page
    fires. ``eta_days`` counts from the last observed day; NULL when
    the trend is flat/decreasing or already past threshold from
    above; ``urgent`` flags ETAs inside ``horizon_days``.

    Output: (event_type, n_days, slope_per_day, level_now, eta_days,
    urgent) — floats rounded to 4.

    Scale shape: corpus → daily tier (ONE map-side-combined
    groupBy); the OLS fit is one moment aggregate per series over
    ≤ span-days rows. Nothing else touches raw rows.
    """
    day = F.date_trunc("day", F.col(ts_col))
    daily = (events.groupBy(F.col(key), day.alias("day"))
             .agg(F.avg(F.col(value_col).cast("double")).alias("y")))
    x = (F.unix_micros(F.col("day").cast("timestamp"))
         / F.lit(86_400_000_000.0))
    # x is ~2·10⁴ epoch-days: uncentered, n·Σxx − Σx² would lose
    # ~(mean/std)² ≈ 10⁸ relative precision
    mom = comoments(daily, [key], OLS, Fit({"x": x, "y": F.col("y")}),
                    means=True, extra=[F.max("x").alias("x1")])
    slope = ols_slope(2)
    level = F.when(slope.isNotNull(),
                   F.col("my")
                   + slope * (F.col("x1") - F.col("mx")))
    eta = F.when(
        slope.isNotNull() & (slope > 0) & (level < F.lit(threshold)),
        (F.lit(threshold) - level) / slope)
    return mom.select(
        key, F.col("n").alias("n_days"),
        portable_round(slope, _R).alias("slope_per_day"),
        portable_round(level, _R).alias("level_now"),
        portable_round(eta, _R).alias("eta_days"),
        F.when(slope.isNotNull(),
               (F.coalesce(eta, F.lit(float("inf")))
                <= F.lit(horizon_days)).cast("int")).alias("urgent"),
    )


def _capacity_sql(threshold: float = 100.0,
                  horizon_days: float = 30.0) -> str:
    return f"""
WITH daily AS (
    SELECT event_type, date_trunc('day', ts) AS day,
           avg(CAST(value AS DOUBLE)) AS y
    FROM events GROUP BY 1, 2
),
{comoments_sql("m", "daily", ["event_type"], OLS,
               Fit({"x": "epoch_us(day) / 86400000000.0", "y": "y"}),
               means=True, extra=["max(x) AS x1"])},
f AS (SELECT *, {ols_slope_sql(2)} AS slope FROM m),
l AS (
    SELECT *,
           CASE WHEN slope IS NOT NULL
                THEN my + slope * (x1 - mx) END AS level
    FROM f
),
e AS (
    SELECT *,
           CASE WHEN slope > 0 AND level < {threshold}
                THEN ({threshold} - level) / slope END AS eta
    FROM l
)
SELECT event_type, n AS n_days,
       round(slope, 4) AS slope_per_day,
       round(level, 4) AS level_now,
       round(eta, 4) AS eta_days,
       CASE WHEN slope IS NOT NULL THEN
            CAST(coalesce(eta, 1e308) <= {horizon_days} AS INT) END
           AS urgent
FROM e
"""


ORACLE_SQL["capacity_forecast"] = _capacity_sql()
