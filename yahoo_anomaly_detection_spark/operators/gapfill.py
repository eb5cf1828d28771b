"""Linear-interpolation gap-fill across sparse conversation windows.

North-rule component; nearest reference analog is the NaN→1 patch in
the Si basis function (/root/reference/Network/ITF/functions.py:153)
— the engine implements a dense bucket grid + linear interpolation.

Semantics: for each conversation, emit EVERY tier bucket between its
first and last observed bucket and linearly interpolate interior NULL
runs between the nearest observed neighbors on the time axis.
Leading/trailing buckets (no neighbor on one side) stay NULL.
``gap_filled`` marks synthesized values.

Scale: one pass over the observed rows, no join and no cache. The
rows shuffle once on the key; two running windows over that shuffle
(descending, then ascending) give each observed row its previous and
next non-NULL anchors and the key's next observed bucket, and the row
then explodes into its own bucket plus the empty buckets before that
next one (:func:`_run_explode`, map-side arithmetic, no driver loop).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from yahoo_anomaly_detection_spark.operators.rollup import TIER_SECONDS


def _run_explode(df: DataFrame, tier_seconds: int, key: str,
                 bucket_col: str, *cols: str | Column) -> DataFrame:
    """The dense (key, bucket) grid from the observed rows alone: each
    row expands to its own bucket and the empty buckets before the
    key's next observed bucket, so the union over a key runs from its
    first to its last observed bucket.

    ``cols`` are evaluated once per observed row (window functions
    over ``W.partitionBy(key).orderBy(bucket_col)`` share this
    helper's window) and repeated on each bucket of its run. Output:
    ``key``, ``cols``, the observed ``_run_b0``, the exploded
    ``bucket_col`` and ``_run_off`` (buckets since ``_run_b0``; 0 on
    the observed row's own bucket). Duplicate (key, bucket) rows each
    keep their own bucket; ``greatest`` keeps their empty run from
    inverting the sequence, and skips the last row's NULL lead.
    """
    b = F.col(bucket_col)
    step = F.expr(f"INTERVAL {int(tier_seconds)} SECONDS")
    nxt = F.lead(b).over(W.partitionBy(key).orderBy(bucket_col))
    runs = df.select(key, *cols, b.alias("_run_b0"),
                     F.greatest(nxt - step, b).alias("_run_b1"))
    return runs.select(
        "*",
        F.posexplode(F.sequence("_run_b0", "_run_b1", step))
        .alias("_run_off", bucket_col),
    ).drop("_run_b1")


def gapfill_linear(tier_df: DataFrame, tier: str = "1m",
                   value_col: str = "mean", key: str = "conv_id",
                   bucket_col: str = "bucket_start") -> DataFrame:
    """Dense bucket grid + linear interpolation of ``value_col``.

    Output: (key, bucket_start, <value_col> observed-or-null,
    <value_col>_filled, gap_filled boolean). A NULL key is never
    matched (as in a join): its buckets are emitted with NULL values.
    """
    # both directions as RUNNING frames (O(n)); a
    # (CURRENT ROW, UNBOUNDED FOLLOWING) frame would make Spark rescan
    # the partition remainder per row (O(n²) — 10×+ slower measured)
    w_prev = W.partitionBy(key).orderBy(bucket_col).rowsBetween(
        W.unboundedPreceding, 0
    )
    w_next = W.partitionBy(key).orderBy(F.desc(bucket_col)).rowsBetween(
        W.unboundedPreceding, 0
    )
    w_asc = W.partitionBy(key).orderBy(bucket_col)
    # a NULL key never matches an observation, as in a join
    v_in = F.when(F.col(key).isNotNull(), F.col(value_col))
    t = F.unix_micros(F.col(bucket_col)).cast("double")
    # next anchor at or after each observed row; its lead is the next
    # anchor strictly after it, i.e. the right neighbor of every empty
    # bucket in the row's run (and of the row itself when v is NULL)
    anchored = tier_df.select(
        key, bucket_col, v_in.alias("_v"),
        F.last(v_in, ignorenulls=True).over(w_next).alias("_nv"),
        F.last(F.when(v_in.isNotNull(), t), ignorenulls=True)
        .over(w_next).alias("_nt"),
    )
    v = F.col("_v")
    runs = _run_explode(
        anchored, TIER_SECONDS[tier], key, bucket_col, "_v",
        F.last(v, ignorenulls=True).over(w_prev).alias("_pv"),
        F.last(F.when(v.isNotNull(), t), ignorenulls=True)
        .over(w_prev).alias("_pt"),
        F.lead("_nv").over(w_asc).alias("_nv"),
        F.lead("_nt").over(w_asc).alias("_nt"),
    )

    # from here on bucket_col, and so t, is the grid bucket
    v = F.when(F.col("_run_off") == 0, F.col("_v"))
    prev_v, prev_t = F.col("_pv"), F.col("_pt")
    next_v, next_t = F.col("_nv"), F.col("_nt")
    interp = F.when(v.isNotNull(), v).otherwise(
        F.when(
            prev_v.isNotNull() & next_v.isNotNull(),
            prev_v + (next_v - prev_v) * (t - prev_t) / (next_t - prev_t),
        )
    )
    return runs.select(
        key,
        bucket_col,
        v.alias(value_col),
        interp.alias(f"{value_col}_filled"),
        (v.isNull() & interp.isNotNull()).alias("gap_filled"),
    )


def backfill_plan(events: DataFrame, key: str = "event_type",
                  ts_col: str = "ts",
                  granularity: str = "day") -> DataFrame:
    """Operational complement of gap-FILLING: enumerate the missing
    days instead of interpolating them — the work-list a backfill
    orchestrator executes (one job per contiguous missing run, the
    unit Airflow/dagster-style backfills schedule). Per series, the
    calendar spine between the series' first and last active day is
    anti-joined against observed days; consecutive missing days
    collapse into runs via the gaps-and-islands idiom
    (``day_number − row_number`` is constant within a run).

    Output: (key, backfill_start, backfill_end, n_days) — one row
    per contiguous missing run, empty when no gaps exist.

    ``granularity`` ("day" or "hour") picks the backfill unit —
    partition-per-day tables backfill days, finer tiers backfill
    hours.

    Scale shape: the raw relation collapses to the chosen tier (ONE
    map-side-combined groupBy); the spine explodes ≤ span-days rows
    per series off the tiny per-series bounds relation; anti-join,
    row_number window, and run groupBy all run on tier-sized
    relations partitioned by the series key.
    """
    if granularity not in ("day", "hour"):
        raise ValueError(f"granularity must be day|hour, got {granularity}")
    unit_us = 86_400_000_000 if granularity == "day" else 3_600_000_000
    day = F.date_trunc(granularity, F.col(ts_col))
    observed = (events.groupBy(F.col(key), day.alias("day"))
                .agg(F.count(F.lit(1)).alias("n")))
    bounds = observed.groupBy(key).agg(
        F.min("day").alias("d0"), F.max("day").alias("d1"))
    spine = bounds.select(
        key,
        F.explode(F.sequence(
            F.col("d0").cast("timestamp"), F.col("d1").cast("timestamp"),
            F.expr(f"interval 1 {granularity}"))).alias("day"))
    missing = spine.join(observed.select(key, "day"), [key, "day"],
                         "left_anti")
    dnum = (F.unix_micros(F.col("day").cast("timestamp"))
            / F.lit(unit_us)).cast("long")
    w = W.partitionBy(key).orderBy("day")
    runs = missing.select(
        key, "day",
        (dnum - F.row_number().over(w)).alias("_grp"))
    return (runs.groupBy(key, "_grp")
            .agg(F.min("day").alias("backfill_start"),
                 F.max("day").alias("backfill_end"),
                 F.count(F.lit(1)).alias("n_days"))
            .drop("_grp"))


def _backfill_sql(granularity: str = "day") -> str:
    unit_s = 86400 if granularity == "day" else 3600
    return f"""
WITH obs AS (
    SELECT event_type, date_trunc('{granularity}', ts) AS day
    FROM events GROUP BY 1, 2
),
b AS (
    SELECT event_type, min(day) AS d0, max(day) AS d1
    FROM obs GROUP BY 1
),
spine AS (
    SELECT event_type, unnest(generate_series(d0, d1,
                                   INTERVAL 1 {granularity})) AS day
    FROM b
),
miss AS (
    SELECT s.event_type, s.day
    FROM spine s LEFT JOIN obs USING (event_type, day)
    WHERE obs.day IS NULL
),
g AS (
    SELECT event_type, day,
           CAST(epoch(day) AS BIGINT) // {unit_s}
               - row_number() OVER (PARTITION BY event_type
                                    ORDER BY day) AS grp
    FROM miss
)
SELECT event_type,
       min(day) AS backfill_start,
       max(day) AS backfill_end,
       count(*) AS n_days
FROM g GROUP BY event_type, grp
"""


ORACLE_SQL = {"backfill_plan": _backfill_sql("hour")}
