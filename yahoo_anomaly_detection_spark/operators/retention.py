"""TTL-driven tier eviction + verification.

North-rule component (reference has no storage layer; its analog of
"retention" is keeping only best-model checkpoints,
/root/reference/Learning/learn_autoencoder.py:135-147).

Policy: each tier keeps ``retention`` seconds of history relative to a
caller-supplied ``now`` watermark (never the wall clock — determinism,
SURVEY §7.4). Eviction is an Iceberg-style ``DELETE WHERE`` through
the catalog shim (metadata-only partition drop on real Iceberg);
verification is a ``left_anti`` join proving no evicted bucket
survives (SURVEY §2.7).
"""

from __future__ import annotations

from datetime import date, datetime, timedelta

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
    from ``bucket_start`` (the rollup job writes ``day``). When given,
    the predicate gains the equivalent partition conjunct
    ``col <= date(cutoff)`` — semantically redundant (implied by the
    bucket_start bound) but it is what makes the delete prunable by
    partition metadata: whole-partition drops are metadata-only on
    Iceberg, and the shim's probes prune the scan to the matching
    day dirs. If the table is partitioned by exactly ``partition_col``
    and no partition value is on or before the cutoff date, the
    conjunct is TRUE for no row, so nothing is deleted: the hive dir
    names alone show it, and the current snapshot id is returned with
    no Spark job and no commit."""
    cutoff = cutoff_for(tier, now, retention_s)
    pred = f"bucket_start < TIMESTAMP '{cutoff.isoformat(sep=' ')}'"
    if partition_col is not None:
        pred += f" AND {partition_col} <= DATE '{cutoff.date().isoformat()}'"
        snap = catalog.current_snapshot_id(table)
        days = catalog.partition_values(table, partition_col, snap)
        if days is not None and not any(
                _on_or_before(d, cutoff.date()) for d in days):
            return snap
    return catalog.delete_where(spark, table, pred)


def _on_or_before(value: str, day: date) -> bool:
    """Can rows of hive partition ``value`` satisfy ``col <= day``?
    NULL (the default partition) never does; a name that does not
    parse as a date is assumed to."""
    if value == HIVE_NULL_PARTITION:
        return False
    try:
        return date.fromisoformat(value) <= day
    except ValueError:
        return True


def vacuum_tier(catalog: ParquetCatalog, spark: SparkSession, table: str,
                keep_last: int = 1, compact: bool = True,
                partition_by: list[str] | None = None,
                verify: bool = True) -> dict:
    """Reclaim the storage TTL eviction only logically releases.

    ``delete_where`` commits a new snapshot but every pre-eviction
    data dir stays on disk for time travel — run forever and dead
    storage grows without bound. This is the standard Iceberg
    maintenance pairing: optionally ``compact`` the live view into a
    single rewrite (collapsing the O(#commits) read plan), then
    ``expire_snapshots(keep_last=)`` to GC unreferenced dirs. Call it
    on the TTL job's cadence, after :func:`evict_tier` +
    :func:`verify_survivors` have proven the new snapshot correct —
    expiry is the point of no return for rollback.

    ``verify`` (default on): compaction must preserve the live view
    exactly — the row count is checked across the rewrite and a
    mismatch raises BEFORE any snapshot is expired, while every
    pre-compaction snapshot is still time-travelable. A compaction
    that commits nothing (the view already is one dir) has nothing to
    verify. ``partition_by`` is rarely needed: the catalog's sticky
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
