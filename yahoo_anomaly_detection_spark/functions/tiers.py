"""The per-conversation mean tier: one row per (conv_id, time bucket)
holding the mean of the bucket's non-NULL values — the windowed mean
series every detector starts from (SURVEY §1.1) — built from the same
description on Spark and in DuckDB SQL.

The NULL filter runs before the grouping, so a bucket whose values are
all NULL has no row on either engine and a detector never sees a NULL
mean. ``rollup.rollup_points`` keeps such buckets (with a NULL
``mean``); queries that mirror the full tier read that instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def mean_tier(series: DataFrame, unit: str) -> DataFrame:
    """(conv_id, bucket_start, mean_v) over a (conv_id, ts, value)
    series; ``unit`` is a ``date_trunc`` unit ("minute", "hour",
    "day")."""
    return (
        series.where(F.col("value").isNotNull())
        .groupBy("conv_id",
                 F.date_trunc(unit, F.col("ts")).alias("bucket_start"))
        .agg(F.avg(F.col("value").cast("double")).alias("mean_v"))
    )


def mean_tier_sql(name: str, src: str, unit: str) -> str:
    """DuckDB mirror of :func:`mean_tier`: one CTE ``<name>`` over the
    series relation ``src``, without the leading ``WITH``."""
    return f"""{name} AS (
    SELECT conv_id, date_trunc('{unit}', ts) AS bucket_start,
           avg(value) AS mean_v
    FROM {src} WHERE value IS NOT NULL GROUP BY 1, 2
)"""
