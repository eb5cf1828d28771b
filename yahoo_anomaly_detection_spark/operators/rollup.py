"""Continuous-aggregate tier rollups: raw → 1m → 1h → 1d.

Reference analog: fixed-length window segmentation (SURVEY W1,
/root/reference/Plotting/statmodels_anomaly_plot.py:25-29) re-expressed
as event-time bucketing; series mean/std aggregates (SURVEY A1/A2,
/root/reference/StatsTesting/arma_anm_detc.py:62) with numpy ddof=0
std semantics.

Scale design:
- Tiers carry (cnt, sum, sum_sq, min, max) so upper tiers RECOMBINE
  from lower tiers (one narrow shuffle over already-reduced rows)
  instead of re-scanning raw data — TimescaleDB-continuous-aggregate
  style cascade.
- ``groupBy(conv_id, bucket)`` after a window partitioned by conv_id
  reuses the exchange (HashPartitioning(conv_id) satisfies the
  clustered distribution of the superset key), so latency derivation +
  1m rollup is ONE shuffle; each cascade step is one map-side-combined
  shuffle over tier rows (~raw/60 and /3600 rows respectively).
- Skew: hot conversations are bounded per (conv_id, bucket) already;
  for per-conversation global aggregates use the salted two-level
  pattern in :func:`salted_agg`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

TIERS = ("1m", "1h", "1d")
TIER_TRUNC = {"1m": "minute", "1h": "hour", "1d": "day"}
TIER_SECONDS = {"1m": 60, "1h": 3600, "1d": 86400}


def bucket_col(tier: str, ts_col: str = "ts"):
    return F.date_trunc(TIER_TRUNC[tier], F.col(ts_col)).alias("bucket_start")


def transcripts_latency(df: DataFrame) -> DataFrame:
    """Per-turn inter-arrival latency series from a transcripts table.

    value = seconds since previous turn in the same conversation under
    stable (conv_id, turn_idx) ordering (SURVEY §2.5: ``lag`` over
    turn order). First turn of a conversation has NULL latency.
    """
    w = W.partitionBy("conv_id").orderBy("turn_idx")
    us = F.unix_micros(F.col("ts"))
    return df.select(
        "conv_id",
        "ts",
        ((us - F.lag(us).over(w)) / F.lit(1e6)).alias("value"),
    )


# the decomposable merge state every tier carries (everything else —
# mean/std/turn_rate — is derived from these by _finish_tier)
TIER_STATE_COLS = ("conv_id", "bucket_start", "cnt", "vcnt", "sum",
                   "sum_sq", "min", "max")


def point_state(v: Column) -> list[Column]:
    """The tier-state aggregates over raw point values ``v``."""
    return [
        F.count(F.lit(1)).alias("cnt"),
        F.count(v).alias("vcnt"),
        F.sum(v).alias("sum"),
        F.sum(v * v).alias("sum_sq"),
        F.min(v).alias("min"),
        F.max(v).alias("max"),
    ]


def merged_state() -> list[Column]:
    """The tier-state aggregates over lower-tier (or partial) rows:
    counts and sums add, extremes take the extreme."""
    return [
        F.sum("cnt").alias("cnt"),
        F.sum("vcnt").alias("vcnt"),
        F.sum("sum").alias("sum"),
        F.sum("sum_sq").alias("sum_sq"),
        F.min("min").alias("min"),
        F.max("max").alias("max"),
    ]


def rollup_points(df: DataFrame, tier: str = "1m",
                  value_col: str = "value") -> DataFrame:
    """Raw point rows (conv_id, ts, value) → one tier table.

    std is POPULATION std (ddof=0) matching ``np.std`` at
    /root/reference/StatsTesting/arma_anm_detc.py:62 — computed from
    (sum, sum_sq, cnt) so tiers recombine exactly.
    """
    v = F.col(value_col).cast("double")
    agg = df.groupBy("conv_id", bucket_col(tier)).agg(*point_state(v))
    return _finish_tier(agg, tier)


def _finish_tier(agg: DataFrame, tier: str) -> DataFrame:
    mean = F.col("sum") / F.col("vcnt")
    var = F.greatest(F.col("sum_sq") / F.col("vcnt") - mean * mean, F.lit(0.0))
    return agg.select(
        *TIER_STATE_COLS,
        F.when(F.col("vcnt") > 0, mean).alias("mean"),
        F.when(F.col("vcnt") > 0, F.sqrt(var)).alias("std"),
        (F.col("cnt") / F.lit(float(TIER_SECONDS[tier]))).alias("turn_rate"),
    )


def rollup_cascade(tier_df: DataFrame, to_tier: str) -> DataFrame:
    """Lower tier → upper tier by exact recombination (no raw re-scan)."""
    agg = tier_df.groupBy(
        "conv_id",
        F.date_trunc(TIER_TRUNC[to_tier], F.col("bucket_start")).alias("bucket_start"),
    ).agg(*merged_state())
    return _finish_tier(agg, to_tier)


def merge_tiers(parts: list[DataFrame], tier: str) -> DataFrame:
    """Exact merge of tier tables/partials of the SAME tier.

    Because tiers carry the decomposable state (cnt, vcnt, sum,
    sum_sq, min, max), merging is just recombination grouped by the
    (conv_id, bucket_start) key — ``rollup_cascade`` onto the same
    tier (``date_trunc`` is the identity on aligned buckets). This is
    the continuous-aggregate REFRESH primitive: an incremental delta's
    partials merge into existing tier rows without touching raw
    history, so refresh cost scales with the delta, never with the
    10^12-turn table. One map-side-combined shuffle over the parts.
    """
    if not parts:
        raise ValueError("merge_tiers needs at least one part")
    u = parts[0].select(*TIER_STATE_COLS)
    for p in parts[1:]:
        u = u.unionByName(p.select(*TIER_STATE_COLS))
    return rollup_cascade(u, tier)


def rollup_all_tiers(points: DataFrame, value_col: str = "value") -> dict[str, DataFrame]:
    """raw → {1m, 1h, 1d} cascade."""
    t1m = rollup_points(points, "1m", value_col)
    t1h = rollup_cascade(t1m, "1h")
    t1d = rollup_cascade(t1h, "1d")
    return {"1m": t1m, "1h": t1h, "1d": t1d}


def salted_agg(df: DataFrame, key: str, aggs: list, salt_col: str = "salt",
               buckets: int = 32) -> DataFrame:
    """Two-level aggregation for skewed keys (SURVEY §4).

    Pass aggs as decomposable pairs handled by the caller; this helper
    covers the common (cnt/sum/sum_sq/min/max) shape used by tiers.
    Level 1 groups by (key, salt) — hot keys fan out over ``buckets``
    reducers; level 2 recombines per key over at most ``buckets`` rows
    per key.
    """
    salted = df
    if salt_col not in df.columns:
        salted = df.withColumn(salt_col, F.pmod(F.hash(F.col(key)), F.lit(buckets)))
    partial = salted.groupBy(key, salt_col).agg(*aggs)

    def combiner(c: str):
        # recombination is inferred from the alias prefix; anything
        # outside the decomposable set must fail LOUDLY — silently
        # max()-ing a partial mean/std would return plausible garbage
        if c.startswith(("cnt", "sum", "vcnt")):
            return F.sum(c).alias(c)
        if c.startswith("min"):
            return F.min(c).alias(c)
        if c.startswith("max"):
            return F.max(c).alias(c)
        raise ValueError(
            f"salted_agg cannot recombine aggregate {c!r}: alias must "
            "start with cnt/sum/vcnt/min/max (decomposable shapes); "
            "express mean/std as sum+cnt/sum_sq and derive them after"
        )

    sums = [combiner(c) for c in partial.columns
            if c not in (key, salt_col)]
    return partial.groupBy(key).agg(*sums)


def route_tier(span_seconds: float, max_points: int,
               tiers: dict[str, int] = TIER_SECONDS) -> str:
    """Pick the tier a dashboard range-query should read: the FINEST
    tier whose point count over the requested span stays within the
    renderer's budget (ceil(span / tier_seconds) ≤ max_points), else
    the coarsest available — the TimescaleDB/Grafana continuous-
    aggregate routing rule. Driver-side pure arithmetic: the decision
    costs nothing and the chosen tier's scan is then partition-pruned
    by the range predicate as usual.

    A 6-hour panel at max 500 points routes to 1m (360 ≤ 500); a
    30-day panel to 1h (720 ≤ 500 fails for 1m's 43,200, passes at
    1h); a 5-year panel to 1d.
    """
    import math

    if span_seconds <= 0:
        raise ValueError(f"span_seconds must be > 0, got {span_seconds}")
    if max_points < 1:
        raise ValueError(f"max_points must be >= 1, got {max_points}")
    for name, secs in sorted(tiers.items(), key=lambda kv: kv[1]):
        # ceil on the UN-truncated span: int()-first would shave a
        # fractional second and admit one point over the budget
        if math.ceil(span_seconds / secs) <= max_points:
            return name
    return max(tiers, key=tiers.get)


GROUPED_ALL = "<all>"
GROUPED_ALL_TS = "1970-01-01 00:00:00"


def grouped_rollup(events: DataFrame, type_col: str = "event_type",
                   ts_col: str = "ts",
                   value_col: str = "value") -> DataFrame:
    """Multi-granularity OLAP rollup in ONE pass: per (type, day),
    per type, per day, and grand total — ``cube(type, day)``, i.e.
    the GROUPING SETS surface (SURVEY §2.4 aggregations, extended to
    the cube lattice; no reference counterpart — the reference
    aggregates one grain at a time).

    Output: one row per lattice cell with ``gid`` =
    GROUPING(type)*2 + GROUPING(day) (0 = finest, 3 = grand total);
    super-aggregate NULLs are coalesced to sentinels
    (:data:`GROUPED_ALL` / epoch) so cells stay distinguishable from
    real NULL keys by ``gid`` alone, and the driver's string
    canonicalization sees identical values from both engines.

    Scale shape: Spark plans cube as a single Expand (×4 rows
    map-side) feeding ONE map-side-combined hash aggregate — one
    shuffle of partial aggregates, output = Σ cell cardinalities,
    never four scans of the raw relation. For deep hierarchies
    (year→month→day→hour) prefer cascading from the finest tier
    (:func:`rollup_cascade`) — cube's Expand factor grows with the
    lattice, the cascade's shuffles shrink with it.
    """
    from yahoo_anomaly_detection_spark.functions.portable import (
        portable_round,
    )

    day = F.date_trunc("day", F.col(ts_col))
    base = events.select(
        F.col(type_col).alias("event_type"), day.alias("day"),
        F.col(value_col).alias("v"))
    agg = base.cube("event_type", "day").agg(
        (F.grouping("event_type") * 2 + F.grouping("day")).alias("gid"),
        F.count(F.lit(1)).alias("n"),
        portable_round(F.sum("v"), 4).alias("sum_v"),
        portable_round(F.avg("v"), 4).alias("avg_v"),
    )
    return agg.select(
        F.coalesce("event_type", F.lit(GROUPED_ALL)).alias("event_type"),
        F.coalesce("day", F.lit(GROUPED_ALL_TS).cast("timestamp"))
         .alias("day"),
        "gid", "n", "sum_v", "avg_v",
    )


ORACLE_SQL = {"grouping_cube_1d": f"""
SELECT coalesce(event_type, '{GROUPED_ALL}') AS event_type,
       coalesce(day, TIMESTAMP '{GROUPED_ALL_TS}') AS day,
       GROUPING(event_type) * 2 + GROUPING(day) AS gid,
       count(*) AS n,
       round(sum(value), 4) AS sum_v,
       round(avg(value), 4) AS avg_v
FROM (SELECT event_type, date_trunc('day', ts) AS day, value
      FROM events)
GROUP BY CUBE (event_type, day)
"""}
