"""TTL-driven tier eviction + verification.

North-rule component (reference has no storage layer; its analog of
"retention" is keeping only best-model checkpoints,
/root/reference/Learning/learn_autoencoder.py:135-147).

Policy: each tier keeps ``retention`` seconds of history relative to a
caller-supplied ``now`` watermark (never the wall clock — determinism,
SURVEY §7.4). Eviction is an Iceberg-style ``DELETE WHERE`` through
the catalog; whole expired day partitions drop in metadata alone, on
the parquet shim as on real Iceberg. Verification is a ``left_anti``
join proving no evicted bucket survives (SURVEY §2.7).
"""

from __future__ import annotations

from datetime import date, datetime, time, timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from yahoo_anomaly_detection_spark.sources.catalog import (
    HIVE_NULL_PARTITION,
    ParquetCatalog,
)

DEFAULT_RETENTION_S = {"1m": 7 * 86400, "1h": 90 * 86400, "1d": 3650 * 86400}


def cutoff_for(tier: str, now: datetime,
               retention_s: dict[str, int] | None = None) -> datetime:
    return now - timedelta(seconds=(retention_s or DEFAULT_RETENTION_S)[tier])


def evict_tier(catalog: ParquetCatalog, spark: SparkSession, table: str,
               tier: str, now: datetime,
               retention_s: dict[str, int] | None = None,
               partition_col: str | None = None) -> str:
    """Drop buckets older than the tier's TTL; returns the snapshot id
    of the evicted view.

    ``partition_col``: name of a hive-partition date column derived
    from ``bucket_start`` (the rollup job writes ``day``), so a row of
    day ``d`` is past a cutoff ``c`` exactly when ``d < date(c)``, or
    ``d = date(c)`` and ``bucket_start < c``. If the table is
    partitioned by exactly ``partition_col``, the eviction is those two
    deletes: ``col < DATE '<date(c)>'`` references the partition column
    alone, so the catalog drops those whole day partitions in metadata
    with no Spark job (as Iceberg does), and only a cutoff that is not
    midnight adds the second, which rewrites the one boundary day.
    Each is issued only if the hive dir names show a day it can hold;
    with none, the current snapshot id is returned with no Spark job
    and no commit. Under any other layout the predicate is the bucket
    bound plus the redundant partition conjunct ``col <= date(c)``,
    which keeps the delete prunable by partition metadata."""
    cutoff = cutoff_for(tier, now, retention_s)
    pred = f"bucket_start < TIMESTAMP '{cutoff.isoformat(sep=' ')}'"
    if partition_col is None:
        return catalog.delete_where(spark, table, pred)
    day = cutoff.date()
    snap = catalog.current_snapshot_id(table)
    days = catalog.partition_values(table, partition_col, snap)
    if days is None:
        return catalog.delete_where(
            spark, table, f"{pred} AND {partition_col} <= DATE '{day}'")
    before = on = False
    for v in days:
        if v == HIVE_NULL_PARTITION:  # NULL satisfies neither
            continue
        try:
            d = date.fromisoformat(v)
        except ValueError:  # not a date: let the deletes decide
            before = on = True
            continue
        before |= d < day
        on |= d == day
    if before:
        snap = catalog.delete_where(
            spark, table, f"{partition_col} < DATE '{day}'")
    if on and cutoff != datetime.combine(day, time()):
        snap = catalog.delete_where(
            spark, table, f"{partition_col} = DATE '{day}' AND {pred}")
    return snap


def vacuum_tier(catalog: ParquetCatalog, spark: SparkSession, table: str,
                keep_last: int = 1, compact: bool = True,
                partition_by: list[str] | None = None,
                verify: bool = True) -> dict:
    """Reclaim the storage TTL eviction only logically releases.

    ``delete_where`` commits a new snapshot but every pre-eviction
    data dir stays on disk for time travel — run forever and dead
    storage grows without bound. This is the standard Iceberg
    maintenance pairing: optionally ``compact`` the live view (merging
    what a long commit history split over many dirs), then
    ``expire_snapshots(keep_last=)`` to GC unreferenced dirs. Call it
    on the TTL job's cadence, after :func:`evict_tier` +
    :func:`verify_survivors` have proven the new snapshot correct —
    expiry is the point of no return for rollback.

    ``verify`` (default on): compaction must preserve the live view
    exactly — the row count is checked across the rewrite and a
    mismatch raises BEFORE any snapshot is expired, while every
    pre-compaction snapshot is still time-travelable. A compaction
    that commits nothing (nothing to merge) has nothing to verify. ``partition_by`` is rarely needed: the catalog's sticky
    partition spec already carries the tier's layout through the
    rewrite."""
    if compact:
        pre = catalog.current_snapshot_id(table)
        snap = catalog.compact(spark, table, partition_by=partition_by)
        if verify and snap != pre:
            n_before = catalog.read(spark, table, pre).count()
            n_after = catalog.read(spark, table, snap).count()
            if n_after != n_before:
                raise RuntimeError(
                    f"compaction of {table!r} changed the row count "
                    f"({n_before} -> {n_after}); snapshot {snap} is "
                    "suspect and nothing was expired — pre-compaction "
                    "snapshots remain time-travelable"
                )
    return catalog.expire_snapshots(table, keep_last=keep_last)


def verify_evicted(tier_df: DataFrame, cutoff: datetime) -> int:
    """Rows violating retention (must be 0 after eviction)."""
    return tier_df.where(
        F.col("bucket_start") < F.lit(cutoff.isoformat(sep=" ")).cast("timestamp")
    ).count()


def verify_survivors(before: DataFrame, after: DataFrame,
                     cutoff: datetime) -> int:
    """left_anti proof: every pre-eviction row at/after the cutoff is
    still present afterwards. Returns the number of lost rows (0 ok)."""
    kept_expected = before.where(
        F.col("bucket_start") >= F.lit(cutoff.isoformat(sep=" ")).cast("timestamp")
    )
    return kept_expected.join(
        after, on=["conv_id", "bucket_start"], how="left_anti"
    ).count()
