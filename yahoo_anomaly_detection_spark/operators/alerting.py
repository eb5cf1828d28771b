"""Alerting & incident analytics layer: SLO multi-window burn-rate
paging, flag→episode consolidation, overlapping-interval merge, and
broadcast point-in-interval overlap joins.

Closes the loop the reference's detectors open: its statistical
envelopes (/root/reference/StatsTesting/arma_anm_detc.py) emit
POINT-WISE flags, but an on-call pipeline consumes EPISODES — "this
series was anomalous from 14:02 to 14:37" — and pages on sustained
error budget burn, not single samples. This module turns any
detector's 0/1 flag column into maximal incident intervals, merges
overlapping effect windows, evaluates the Google-SRE multi-window
burn-rate paging rule, and attributes raw events to incident windows.
No reference counterpart; engine extension per SURVEY §2.11.

Scale shapes (plan-audited in tests/test_alerting.py):

- ``flag_intervals``: the sessionize idiom — lag → new-run indicator,
  running sum → run id over ONE hash exchange on the series key; the
  (key, run) groupBy's clustering is satisfied by hash(key), so the
  consolidation adds no second exchange.
- ``merge_intervals``: running-max-of-end segmented scan (the classic
  interval-union sweep) over the same single key exchange; the
  (key, group) groupBy again reuses the partitioning. Per-task input
  is one key's intervals — bounded by series length, never by corpus
  size.
- ``slo_burn``: both trailing time-RANGE windows (short + long) share
  one partition/order, so Spark evaluates them in a single Window
  operator over ONE exchange — two frames, one sort, no self-join
  (the naive formulation is a range self-join that explodes
  quadratically in samples-per-window).
- ``point_in_interval_join``: the interval side is explicitly
  ``broadcast()`` — a BroadcastNestedLoopJoin that streams the big
  points relation map-side against the tiny interval table, never a
  CartesianProduct shuffle and never a shuffle of the points at all.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window as W

from yahoo_anomaly_detection_spark.functions.portable import portable_round
from yahoo_anomaly_detection_spark.operators.tsanalytics import (
    _R,
    _run_segments,
)

_US = 1_000_000


def flag_intervals(df: DataFrame, flag_col: str,
                   keys: tuple[str, ...] = ("conv_id",),
                   order_col: str = "bucket_start",
                   sample_seconds: int = 60,
                   max_gap_seconds: int | None = None) -> DataFrame:
    """Consolidate a detector's point-wise 0/1 flags into maximal
    incident episodes: one row per run of consecutive flagged samples
    with ``interval_start`` (first flagged sample), ``interval_end``
    (last flagged sample + ``sample_seconds``, half-open),
    ``n_samples``, and ``duration_seconds`` (= flagged sample time,
    ``n_samples · sample_seconds``).

    Works over ANY flag column — z-score, MAD, CUSUM, AR-residual, or
    a plain threshold breach — which is the point: detectors emit
    points, incident review consumes episodes. With the default
    sample-consecutive semantics a gap in the series does not split a
    run (``interval_end − interval_start`` can then exceed
    ``duration_seconds``); pass ``max_gap_seconds`` to split runs at
    holes, matching ``tsanalytics.alert_states``.

    ONE hash exchange on the key: the lag/cumsum windows partition on
    ``keys`` and the (keys, run) groupBy's clustered distribution is
    satisfied by the same hash partitioning (sessionize idiom,
    ``operators/sessions.py``).
    """
    if sample_seconds < 1:
        raise ValueError(f"sample_seconds must be >= 1, got {sample_seconds}")
    seg = _run_segments(df, flag_col, keys, order_col, max_gap_seconds)
    o = F.col(order_col).cast("timestamp")
    return (
        seg.where(F.col(flag_col).cast("int") == 1)
        .groupBy(*keys, "_seg")
        .agg(
            F.min(o).alias("interval_start"),
            F.timestamp_micros(
                F.unix_micros(F.max(o))
                + F.lit(int(sample_seconds) * _US)
            ).alias("interval_end"),
            F.count(F.lit(1)).alias("n_samples"),
            (F.count(F.lit(1)) * F.lit(int(sample_seconds)))
            .cast("long").alias("duration_seconds"),
        )
        .drop("_seg")
    )


def merge_intervals(df: DataFrame, keys: tuple[str, ...] = ("conv_id",),
                    start_col: str = "s", end_col: str = "e") -> DataFrame:
    """Merge overlapping or touching half-open intervals
    ``[start, end)`` per key into their union: one row per maximal
    connected interval with ``interval_start``, ``interval_end``,
    ``n_merged`` (input intervals absorbed), and ``covered_us``
    (merged span in microseconds — equal to covered time, since the
    merged interval is contiguous by construction).

    The classic sweep, expressed as a segmented scan instead of the
    O(n²) pairwise-overlap self-join: order each key's intervals by
    (start, end), take the running max of ``end`` over all PRIOR rows
    — an interval starts a new group iff its start lies strictly past
    everything seen so far (touching intervals, ``start == prior
    end``, merge). A running-sum of the new-group indicator numbers
    the groups; min/max per (key, group) emits the union.

    ONE hash exchange: both windows partition on ``keys`` and the
    (keys, group) groupBy reuses the same partitioning. Ordering ties
    are harmless — equal (start, end) rows are interchangeable for
    both the running max and the group indicator.
    """
    s = F.col(start_col).cast("timestamp")
    e = F.col(end_col).cast("timestamp")
    w = W.partitionBy(*keys).orderBy(start_col, end_col)
    prior_max_end = F.max(e).over(
        w.rowsBetween(W.unboundedPreceding, -1))
    new_grp = (prior_max_end.isNull() | (s > prior_max_end)).cast("int")
    grp = F.sum(new_grp).over(
        w.rowsBetween(W.unboundedPreceding, W.currentRow))
    return (
        df.withColumn("_grp", grp)
        .groupBy(*keys, "_grp")
        .agg(
            F.min(s).alias("interval_start"),
            F.max(e).alias("interval_end"),
            F.count(F.lit(1)).alias("n_merged"),
            (F.unix_micros(F.max(e)) - F.unix_micros(F.min(s)))
            .alias("covered_us"),
        )
        .drop("_grp")
    )


def slo_burn(df: DataFrame, value_col: str, threshold: float,
             short_seconds: int = 300, long_seconds: int = 3600,
             short_burn: float = 0.5, long_burn: float = 0.2,
             keys: tuple[str, ...] = ("conv_id",),
             order_col: str = "bucket_start") -> DataFrame:
    """Multi-window burn-rate paging (the SRE-workbook rule): page
    only when the breach ratio over BOTH a short trailing time window
    (fast detection) and a long one (sustained burn — flap
    suppression) exceeds its threshold. Adds ``breach`` (0/1),
    ``short_ratio``, ``long_ratio`` (breach fraction over the
    trailing half-open window ``(t − w, t]``), and ``page`` (0/1).

    Both windows are time-RANGE frames over epoch microseconds, so
    irregular sampling is handled exactly — a sparse series' window
    covers whatever samples actually landed in the last w seconds,
    not "the last k rows". They share one partition/order, so Spark
    evaluates them in a single Window operator over ONE hash
    exchange; the naive alternative (self-join each sample against
    its trailing window) explodes quadratically in samples-per-window
    and is exactly what this formulation avoids.
    """
    if not 0 < short_seconds < long_seconds:
        raise ValueError(
            f"need 0 < short_seconds < long_seconds, got "
            f"{short_seconds}, {long_seconds}")
    for name, b in (("short_burn", short_burn), ("long_burn", long_burn)):
        if not 0.0 < b <= 1.0:
            raise ValueError(f"{name} must be in (0, 1], got {b}")
    v = F.col(value_col).cast("double")
    # NULL samples are non-breaches counted in the window denominator
    # (the oracle's CASE ELSE 0) — a bare NULL would instead be
    # silently dropped by avg() and shrink the ratio's denominator
    breach = F.coalesce((v > F.lit(float(threshold))).cast("int"),
                        F.lit(0))
    us = F.unix_micros(F.col(order_col).cast("timestamp"))
    base = df.withColumn("breach", breach).withColumn("_us", us)
    w = W.partitionBy(*keys).orderBy("_us")

    def _ratio(secs: int):
        frame = w.rangeBetween(-(int(secs) * _US - 1), 0)
        return F.avg(F.col("breach").cast("double")).over(frame)

    # both ratios in ONE select so CollapseWindow fuses the frames
    # into a single Window operator (sequential withColumns would
    # interleave Projects and leave two)
    out = base.select(
        "*",
        _ratio(short_seconds).alias("short_ratio"),
        _ratio(long_seconds).alias("long_ratio"),
    ).withColumn(
        "page",
        ((F.col("short_ratio") >= F.lit(float(short_burn)))
         & (F.col("long_ratio") >= F.lit(float(long_burn))))
        .cast("int"),
    )
    return out.drop("_us")


def point_in_interval_join(points: DataFrame, intervals: DataFrame,
                           ts_col: str = "ts",
                           start_col: str = "interval_start",
                           end_col: str = "interval_end") -> DataFrame:
    """Inner-join points to every half-open interval containing them
    (``start <= ts < end``), with the interval side BROADCAST — the
    "which raw events fall inside which incident windows" primitive
    of incident attribution and maintenance-window suppression.

    The interval table must be small (top-k incidents, a maintenance
    calendar): Spark plans a BroadcastNestedLoopJoin that streams the
    big points relation map-side against the broadcast intervals —
    the points never shuffle, and there is no CartesianProduct. When
    the interval side outgrows a broadcast, use
    :func:`interval_join_bucketed` — the equi-join decomposition of
    the same predicate.
    """
    ts = points[ts_col].cast("timestamp")
    cond = (ts >= intervals[start_col]) & (ts < intervals[end_col])
    return points.join(F.broadcast(intervals), cond, "inner")


def _explode_to_buckets(intervals: DataFrame, start_col: str,
                        end_col: str, b_us):
    """Shared exact integer bucket math for half-open intervals: adds
    ``_bkt`` (bucket-start epoch µs) with one row per ``b_us`` bucket
    the interval touches. The last touched bucket holds ``end − 1µs``
    (half-open); empty or inverted intervals explode to nothing. Used
    by both :func:`interval_join_bucketed` and
    :func:`interval_coverage` so the boundary rules cannot diverge."""
    s_us = F.unix_micros(F.col(start_col).cast("timestamp"))
    e_us = F.unix_micros(F.col(end_col).cast("timestamp"))
    return intervals.withColumn(
        "_bkt",
        F.explode(
            F.when(
                e_us > s_us,
                F.sequence(s_us - F.pmod(s_us, b_us),
                           (e_us - 1) - F.pmod(e_us - 1, b_us), b_us),
            ).otherwise(F.array().cast("array<bigint>"))
        ),
    )


def interval_join_bucketed(points: DataFrame, intervals: DataFrame,
                           ts_col: str = "ts",
                           start_col: str = "interval_start",
                           end_col: str = "interval_end",
                           bucket_seconds: int = 86400) -> DataFrame:
    """Scale path of :func:`point_in_interval_join` for interval
    tables too big to broadcast: decompose the range predicate into a
    plain EQUI-join on a coarse time bucket plus an exact residual
    filter. Each interval is exploded to every ``bucket_seconds``
    bucket it touches (``sequence`` of bucket ids — row count grows
    by interval_span / bucket_seconds, so pick a bucket near the
    typical interval length); each point carries exactly ONE bucket
    id, so after the equi-join the residual ``start <= ts < end``
    reproduces the half-open membership with no duplicates and no
    post-dedup.

    This turns the nested-loop/cartesian shape into a shuffle hash
    join both sides of which partition on the bucket id — the
    standard bucketed-range-join decomposition (same family as
    ``sessions.asof_join``'s two-phase carry-in), correct at any
    interval-table size. Returns the same rows as the broadcast path
    (property-tested equivalence in tests/test_alerting.py).
    """
    if bucket_seconds < 1:
        raise ValueError(
            f"bucket_seconds must be >= 1, got {bucket_seconds}")
    b_us = F.lit(int(bucket_seconds) * _US)
    iv = _explode_to_buckets(intervals, start_col, end_col, b_us)
    ts = points[ts_col].cast("timestamp")
    pts_us = F.unix_micros(ts)
    # exact integer bucket start (no double division at epoch-micros
    # magnitudes): us − us mod B
    pts = points.withColumn("_bkt", pts_us - F.pmod(pts_us, b_us))
    # frame-qualified refs: the two sides may share column names
    # beyond _bkt (e.g. both carry a ts), and the broadcast path
    # tolerates that — the residual must not become ambiguous
    joined = pts.join(iv, "_bkt", "inner").where(
        (pts[ts_col].cast("timestamp") >= iv[start_col])
        & (pts[ts_col].cast("timestamp") < iv[end_col])
    )
    return joined.drop("_bkt")


def interval_coverage(intervals: DataFrame,
                      bucket_seconds: int = 86400,
                      keys: tuple[str, ...] = ("conv_id",),
                      start_col: str = "interval_start",
                      end_col: str = "interval_end") -> DataFrame:
    """Per-(key, time bucket) incident coverage: how many seconds of
    each bucket fall inside the key's half-open incident intervals,
    and what share of the bucket that is — the uptime/downtime rollup
    an SLO report is built from ("conversation X was in breach 4.2%
    of Tuesday").

    Precondition: intervals within a key must be DISJOINT for the
    share to mean coverage — feed :func:`merge_intervals` output (the
    natural composition); overlapping inputs double-count by design
    (each interval's overlap is summed independently).

    Shape: each interval explodes to the coarse buckets it touches
    (the exact integer bucket math of :func:`interval_join_bucketed`
    — spans/bucket_seconds rows per interval, driver-loop-free), the
    in-bucket overlap is clipped with ``least``/``greatest`` on epoch
    micros, and ONE map-side-combined groupBy on (keys, bucket) sums
    it. Buckets a key has no incident in produce no row (an SLO
    report joins this against its calendar skeleton; emitting every
    empty bucket for every key would be rows ∝ keys × horizon).

    Output: keys + (bucket_start, n_intervals, covered_s,
    covered_share), covered_* rounded for the oracle gate.
    """
    if bucket_seconds < 1:
        raise ValueError(
            f"bucket_seconds must be >= 1, got {bucket_seconds}")
    b_us = F.lit(int(bucket_seconds) * _US)
    s_us = F.unix_micros(F.col(start_col).cast("timestamp"))
    e_us = F.unix_micros(F.col(end_col).cast("timestamp"))
    exploded = _explode_to_buckets(intervals, start_col, end_col, b_us)
    ov_us = (F.least(e_us, F.col("_bkt") + b_us)
             - F.greatest(s_us, F.col("_bkt")))
    return (
        exploded
        .groupBy(*keys,
                 F.timestamp_micros(F.col("_bkt")).alias("bucket_start"))
        .agg(
            F.count(F.lit(1)).alias("n_intervals"),
            portable_round(F.sum(ov_us) / F.lit(float(_US)), _R)
            .alias("covered_s"),
            portable_round(
                F.sum(ov_us) / (b_us.cast("double")), _R)
            .alias("covered_share"),
        )
    )


def segmented_cooldown(ts_us: np.ndarray, seg_starts: np.ndarray,
                       cooldown_us: int) -> np.ndarray:
    """Vectorized cooldown suppression over many variable-length
    segments of ORDERED alert timestamps: the first alert of each
    segment notifies; a later alert notifies iff it lands at least
    ``cooldown_us`` after the last NOTIFIED alert (which then becomes
    the new anchor). The recursion
    ``fire_t = ts_t >= last_{t−1} + cd;  last_t = fire ? ts_t : last``
    runs as the same position-major block scan as the EWMA/Holt/CUSUM
    kernels — one numpy vector op per position, no per-group Python.
    Returns int32 0/1 per input row, input order.
    """
    from yahoo_anomaly_detection_spark.operators.stats import (
        position_major_layout,
    )

    n = len(ts_us)
    if n == 0:
        return np.empty(0, np.int32)
    x = np.asarray(ts_us, np.int64)
    perm, k, bs, _, max_len = position_major_layout(seg_starts, n)
    xs = x[perm]
    g = int(k[0])
    fire = np.empty(n, bool)
    fire[:g] = True          # position 0 of every segment notifies
    last = xs[:g].copy()     # per-segment anchor, rank-aligned
    for t in range(1, max_len):
        kt = k[t]
        lo = bs[t]
        cur = xs[lo: lo + kt]
        f = cur >= last[:kt] + cooldown_us
        last[:kt] = np.where(f, cur, last[:kt])
        fire[lo: lo + kt] = f
    out = np.empty(n, bool)
    out[perm] = fire
    return out.astype(np.int32)


def alert_cooldown(df: DataFrame, flag_col: str = "flag",
                   cooldown_seconds: int = 600,
                   keys: tuple[str, ...] = ("conv_id",),
                   order_col: str = "bucket_start") -> DataFrame:
    """Alert-fatigue suppression (the notification rate limit every
    paging system applies downstream of its detectors): keep only the
    flagged samples, then mark ``notify`` = 1 on the first alert per
    series and on each later alert at least ``cooldown_seconds``
    after the last notified one — which resets the cooldown anchor,
    so a continuous breach re-pages exactly once per cooldown period
    instead of once per sample.

    The anchor depends on which PREVIOUS alerts fired, so this is a
    genuine sequential recursion (not a window expression); it runs
    through the shared :func:`stats.segmented_scan` scaffold — the
    flagged subset repartitions by series key ONCE, and the kernel is
    a position-major numpy block scan, never per-row or per-group
    Python. The un-flagged corpus is filtered before the shuffle, so
    the exchange carries only alerts.

    Output: the flagged rows + ``notify`` (0/1).
    """
    from yahoo_anomaly_detection_spark.operators.stats import segmented_scan

    if cooldown_seconds <= 0:
        raise ValueError(
            f"cooldown_seconds must be > 0, got {cooldown_seconds}")
    alerts = df.where(F.col(flag_col).cast("int") == 1)
    base = alerts.withColumn(
        "_us", F.unix_micros(F.col(order_col).cast("timestamp")))
    cd_us = int(cooldown_seconds) * _US

    def kernel(pdf, starts):
        return {"notify": segmented_cooldown(
            pdf["_us"].to_numpy(np.int64), starts, cd_us)}

    out = segmented_scan(
        base, keys, order_col,
        [("notify", T.IntegerType(), "int32")], kernel,
    )
    return out.drop("_us")


# ------------------------------------------------------------------ oracles
# Driver events table: (event_id, ts, user_id, event_type, value,
# props); conv_id := user_id per the engine's series adaptation.

from yahoo_anomaly_detection_spark.operators.tsanalytics import (  # noqa: E402
    _EV_T1M,
    BREACH_SEGS_SQL,
)

_BREACH_INTERVALS_SQL = f"""
WITH {_EV_T1M},
{BREACH_SEGS_SQL.strip()}
SELECT conv_id,
       min(bucket_start) AS interval_start,
       make_timestamp(epoch_us(max(bucket_start)) + 60000000)
           AS interval_end,
       CAST(count(*) AS BIGINT) AS n_samples,
       CAST(count(*) * 60 AS BIGINT) AS duration_seconds
FROM sg WHERE breach = 1
GROUP BY conv_id, seg
"""

_SLO_BURN_SQL = f"""
WITH {_EV_T1M},
b AS (
    SELECT conv_id, bucket_start, mean_v,
           epoch_us(bucket_start) AS us,
           CASE WHEN mean_v > 100.0 THEN 1 ELSE 0 END AS breach
    FROM t1m
),
w AS (
    SELECT conv_id, bucket_start, breach,
           avg(CAST(breach AS DOUBLE)) OVER (
               PARTITION BY conv_id ORDER BY us
               RANGE BETWEEN 299999999 PRECEDING AND CURRENT ROW
           ) AS short_ratio,
           avg(CAST(breach AS DOUBLE)) OVER (
               PARTITION BY conv_id ORDER BY us
               RANGE BETWEEN 3599999999 PRECEDING AND CURRENT ROW
           ) AS long_ratio
    FROM b
)
SELECT conv_id, bucket_start, breach,
       round(short_ratio, 4) AS short_ratio,
       round(long_ratio, 4) AS long_ratio,
       CASE WHEN short_ratio >= 0.5 AND long_ratio >= 0.2
            THEN 1 ELSE 0 END AS page
FROM w
"""

# synthetic event-effect windows: each event covers
# [ts, ts + (60 + floor(value)) seconds) — deterministic, data-derived
_EV_INTERVALS = """
iv AS (
    SELECT CAST(user_id AS VARCHAR) AS conv_id, ts AS s,
           make_timestamp(
               epoch_us(ts)
               + (60 + CAST(floor(value) AS BIGINT)) * 1000000
           ) AS e
    FROM events WHERE value IS NOT NULL
)
"""

_MERGE_CORE = """
mx AS (
    SELECT *, max(e) OVER (PARTITION BY conv_id ORDER BY s, e
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING) AS pmax
    FROM iv
),
gr AS (
    SELECT *, sum(CASE WHEN pmax IS NULL OR s > pmax
                       THEN 1 ELSE 0 END)
              OVER (PARTITION BY conv_id ORDER BY s, e
                    ROWS UNBOUNDED PRECEDING) AS grp
    FROM mx
),
mi AS (
    SELECT conv_id,
           min(s) AS interval_start,
           max(e) AS interval_end,
           CAST(count(*) AS BIGINT) AS n_merged,
           epoch_us(max(e)) - epoch_us(min(s)) AS covered_us
    FROM gr GROUP BY conv_id, grp
)
"""

_MERGED_INTERVALS_SQL = f"""
WITH {_EV_INTERVALS.strip()},
{_MERGE_CORE.strip()}
SELECT * FROM mi
"""

# coverage explodes each MERGED (disjoint) interval to the day
# buckets it touches and clips with least/greatest on epoch micros —
# the same exact integer bucket math as the engine operator
_COVERAGE_SQL = f"""
WITH {_EV_INTERVALS.strip()},
{_MERGE_CORE.strip()},
ex AS (
    SELECT conv_id,
           epoch_us(interval_start) AS s_us,
           epoch_us(interval_end) AS e_us,
           unnest(generate_series(
               epoch_us(interval_start)
                   - epoch_us(interval_start) % 86400000000,
               (epoch_us(interval_end) - 1)
                   - (epoch_us(interval_end) - 1) % 86400000000,
               86400000000)) AS bkt
    FROM mi WHERE interval_end > interval_start
)
SELECT conv_id, make_timestamp(bkt) AS bucket_start,
       CAST(count(*) AS BIGINT) AS n_intervals,
       round(sum(least(e_us, bkt + 86400000000)
                 - greatest(s_us, bkt)) / 1e6, 4) AS covered_s,
       round(sum(least(e_us, bkt + 86400000000)
                 - greatest(s_us, bkt)) / 86400000000.0, 4)
           AS covered_share
FROM ex GROUP BY 1, 2
"""

_INCIDENT_OVERLAP_SQL = f"""
WITH {_EV_INTERVALS.strip()},
{_MERGE_CORE.strip()},
top AS (
    SELECT * FROM mi
    ORDER BY covered_us DESC, conv_id, interval_start
    LIMIT 10
)
SELECT t.conv_id AS incident_conv, t.interval_start, t.interval_end,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
FROM top t
JOIN events e ON e.ts >= t.interval_start AND e.ts < t.interval_end
GROUP BY 1, 2, 3
"""

# cooldown suppression is a sequential recursion (each decision moves
# the anchor later alerts compare against) — the oracle walks the
# per-series alert sequence with a recursive CTE, one row per step,
# exactly the holt-oracle pattern
_ALERT_COOLDOWN_SQL = f"""
WITH RECURSIVE {_EV_T1M},
f AS (
    SELECT conv_id, bucket_start, mean_v,
           row_number() OVER (PARTITION BY conv_id
                              ORDER BY bucket_start) AS rn
    FROM t1m WHERE mean_v > 100.0
),
acc AS (
    SELECT conv_id, rn, bucket_start, mean_v,
           1 AS notify, bucket_start AS last_ts
    FROM f WHERE rn = 1
    UNION ALL
    SELECT f.conv_id, f.rn, f.bucket_start, f.mean_v,
           CASE WHEN epoch_us(f.bucket_start)
                     >= epoch_us(a.last_ts) + 600000000
                THEN 1 ELSE 0 END,
           CASE WHEN epoch_us(f.bucket_start)
                     >= epoch_us(a.last_ts) + 600000000
                THEN f.bucket_start ELSE a.last_ts END
    FROM f JOIN acc a ON f.conv_id = a.conv_id AND f.rn = a.rn + 1
)
SELECT conv_id, bucket_start, round(mean_v, 4) AS mean_v, notify
FROM acc
"""

def anomaly_movers(events: DataFrame, y: float = 3.0,
                   key: str = "event_type", ts_col: str = "ts",
                   value_col: str = "value") -> DataFrame:
    """Day-over-day anomaly-rate movers — the on-call dashboard's
    "what got WORSE today" list: per (series, day) the share of
    samples breaching the series' global z-envelope
    ``mean + y·std`` (the reference's detector threshold,
    `StatsTesting/arma_anm_detc.py:62`, population std per SURVEY
    A2), its delta vs the series' previous observed day, and the
    series' rank within the day by that delta (1 = biggest
    deterioration). Point detectors say "this sample is anomalous";
    this says "this SERIES is degrading", which is what gets paged on.

    Scale shape: per-series envelope stats are ONE map-side-combined
    groupBy broadcast back onto the corpus (never a window over raw
    rows); the (series, day) rate rollup is the only corpus-sized
    exchange; the lag and rank windows run on the (series × days)
    relation. Days without a predecessor are excluded (no delta).

    Output: (key, bucket_start, n, rate, prev_rate, delta, day_rank).
    """
    v = F.col(value_col).cast("double")
    pts = events.where(v.isNotNull())
    stats = pts.groupBy(key).agg(
        F.avg(v).alias("_mu"), F.stddev_pop(v).alias("_sd"))
    day = F.date_trunc("day", F.col(ts_col).cast("timestamp"))
    flagged = (
        pts.join(F.broadcast(stats), key)
        .select(
            key, day.alias("bucket_start"),
            (v > F.col("_mu") + F.lit(float(y)) * F.col("_sd"))
            .cast("int").alias("_flag"),
        )
    )
    rates = flagged.groupBy(key, "bucket_start").agg(
        F.count(F.lit(1)).alias("n"), F.avg("_flag").alias("_rate"))
    w_key = W.partitionBy(key).orderBy("bucket_start")
    with_prev = rates.withColumn("_prev", F.lag("_rate").over(w_key)) \
                     .where(F.col("_prev").isNotNull())
    delta = F.col("_rate") - F.col("_prev")
    w_day = W.partitionBy("bucket_start").orderBy(
        F.desc("_delta"), F.asc(key))
    return (
        with_prev.withColumn("_delta", delta)
        .select(
            key, "bucket_start", "n",
            portable_round(F.col("_rate"), 4).alias("rate"),
            portable_round(F.col("_prev"), 4).alias("prev_rate"),
            portable_round(F.col("_delta"), 4).alias("delta"),
            F.row_number().over(w_day).cast("int").alias("day_rank"),
        )
    )


def _anomaly_movers_sql(y: float) -> str:
    return f"""
WITH pts AS (
    SELECT event_type, ts, CAST(value AS DOUBLE) AS v FROM events
    WHERE value IS NOT NULL
),
st AS (
    SELECT event_type, avg(v) AS mu, stddev_pop(v) AS sd
    FROM pts GROUP BY 1
),
fl AS (
    SELECT p.event_type, date_trunc('day', p.ts) AS bucket_start,
           CASE WHEN p.v > st.mu + {float(y)} * st.sd
                THEN 1 ELSE 0 END AS flag
    FROM pts p JOIN st USING (event_type)
),
r AS (
    SELECT event_type, bucket_start, count(*) AS n,
           avg(flag) AS rate
    FROM fl GROUP BY 1, 2
),
d AS (
    SELECT event_type, bucket_start, n, rate,
           lag(rate) OVER (PARTITION BY event_type
                           ORDER BY bucket_start) AS prev_rate
    FROM r
)
SELECT event_type, bucket_start, n,
       round(rate, 4) AS rate,
       round(prev_rate, 4) AS prev_rate,
       round(rate - prev_rate, 4) AS delta,
       CAST(row_number() OVER (
           PARTITION BY bucket_start
           ORDER BY rate - prev_rate DESC, event_type ASC) AS INT)
           AS day_rank
FROM d WHERE prev_rate IS NOT NULL
"""


ORACLE_SQL = {
    "anomaly_movers": _anomaly_movers_sql(3.0),
    "alert_cooldown": _ALERT_COOLDOWN_SQL,
    "breach_intervals": _BREACH_INTERVALS_SQL,
    "merged_intervals": _MERGED_INTERVALS_SQL,
    "slo_burn": _SLO_BURN_SQL,
    "incident_overlap": _INCIDENT_OVERLAP_SQL,
    # the bucketed scale path computes the SAME relation — one oracle,
    # two physical strategies, both driver-checked
    "incident_overlap_bucketed": _INCIDENT_OVERLAP_SQL,
    "incident_coverage_1d": _COVERAGE_SQL,
}


def fleet_incidents(intervals: DataFrame, id_col: str = "iv_id",
                    series_col: str = "conv_id",
                    start_col: str = "interval_start",
                    end_col: str = "interval_end",
                    bucket_seconds: int = 3600,
                    max_iter: int = 20,
                    shortcut: bool = True) -> DataFrame:
    """Cross-series alert correlation: cluster overlapping breach
    intervals from DIFFERENT series into fleet-level incidents — the
    alert-dedup step every paging pipeline needs (50 series breaching
    together is ONE infrastructure incident, not 50 pages). Two
    intervals share an incident when their half-open time ranges
    overlap (``a.start < b.end AND b.start < a.end``); incident
    membership is the transitive closure, computed by reusing the
    engine's :func:`~yahoo_anomaly_detection_spark.operators.dedup.\
connected_components` min-label loop over the overlap graph.

    ``id_col`` must be a numeric interval id that is identical across
    engines (the caller derives it from natural keys, e.g.
    ``epoch_seconds(start)·10^6 + series_number``) — the incident id
    is the cluster's minimum ``iv_id``, so determinism of the output
    is determinism of the ids.

    Output per incident: (incident_id, n_intervals, n_series,
    incident_start, incident_end, flagged_seconds).

    Scale shape: the interval relation is runs, not samples —
    orders of magnitude smaller than the corpus; overlap candidates
    come from the bucketed equality decomposition
    (:func:`_explode_to_buckets` on both sides, join on the bucket
    id, exact residual filter, distinct) — never an all-pairs
    θ-join; the CC loop shuffles node-keyed label rows per round
    with lineage truncation, per-round block release, and an
    optional reliable-checkpoint mode inherited from the dedup
    operator.
    """
    from yahoo_anomaly_detection_spark.operators.dedup import (
        connected_components,
    )

    b_us = F.lit(int(bucket_seconds) * _US)
    left = _explode_to_buckets(intervals, start_col, end_col, b_us) \
        .select(F.col(id_col).alias("ia"),
                F.col(start_col).alias("sa"),
                F.col(end_col).alias("ea"), "_bkt")
    right = _explode_to_buckets(intervals, start_col, end_col, b_us) \
        .select(F.col(id_col).alias("ib"),
                F.col(start_col).alias("sb"),
                F.col(end_col).alias("eb"), "_bkt")
    edges = (
        left.join(right, "_bkt")
        .where((F.col("ia") < F.col("ib"))
               & (F.col("sa") < F.col("eb"))
               & (F.col("sb") < F.col("ea")))
        .select("ia", "ib").distinct()
    )
    # overlap chains (A∩B, B∩C, …) give the incident graph a LARGE
    # diameter — hours-long cascades converge in O(diameter) min-label
    # rounds but O(log d) with pointer doubling, hence shortcut
    # defaults ON here (unlike near-dup graphs, whose components are
    # dense and shallow)
    comp = connected_components(edges, "ia", "ib", max_iter=max_iter,
                                shortcut=shortcut)
    labeled = intervals.join(
        comp.select(F.col("doc_id").alias(id_col),
                    F.col("cluster")),
        id_col, "left",
    ).withColumn("_inc", F.coalesce("cluster", F.col(id_col)))
    return labeled.groupBy(F.col("_inc").alias("incident_id")).agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.countDistinct(series_col).alias("n_series"),
        F.min(start_col).alias("incident_start"),
        F.max(end_col).alias("incident_end"),
        F.sum("duration_seconds").cast("long").alias("flagged_seconds"),
    )


_FLEET_INCIDENTS_SQL = f"""
WITH RECURSIVE {_EV_T1M},
{BREACH_SEGS_SQL.strip()},
iv AS (
    SELECT conv_id,
           min(bucket_start) AS s,
           make_timestamp(epoch_us(max(bucket_start)) + 60000000) AS e,
           CAST(count(*) * 60 AS BIGINT) AS dur,
           CAST(epoch(min(bucket_start)) AS BIGINT) * 1000000
               + CAST(conv_id AS BIGINT) AS iv_id
    FROM sg WHERE breach = 1
    GROUP BY conv_id, seg
),
edges AS (
    SELECT a.iv_id AS src, b.iv_id AS dst
    FROM iv a JOIN iv b
      ON a.iv_id <> b.iv_id AND a.s < b.e AND b.s < a.e
),
reach(node, lab) AS (
    SELECT DISTINCT src, src FROM edges
    UNION
    SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node
),
cc AS (SELECT node, min(lab) AS cluster FROM reach GROUP BY node),
lab AS (
    SELECT iv.*, coalesce(cc.cluster, iv.iv_id) AS inc
    FROM iv LEFT JOIN cc ON cc.node = iv.iv_id
)
SELECT inc AS incident_id,
       count(*) AS n_intervals,
       count(DISTINCT conv_id) AS n_series,
       min(s) AS incident_start,
       max(e) AS incident_end,
       CAST(sum(dur) AS BIGINT) AS flagged_seconds
FROM lab GROUP BY 1
"""

ORACLE_SQL["fleet_incidents"] = _FLEET_INCIDENTS_SQL
